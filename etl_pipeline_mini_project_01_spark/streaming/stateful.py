"""Custom stateful streaming operator: per-user running engagement totals
via applyInPandasWithState (north-star: stateful ops Spark's built-in
window aggregations can't express - running state carried across
micro-batches with explicit timeout control).

State design: one row of (n_events, total_value) per user key, updated
per micro-batch; at scale state lives in the per-partition state store
(RocksDB on a real cluster), keyed by the shuffle hash of user_id.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..session import scoped_conf
from .windows import read_events_stream

OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
])

STATE_SCHEMA = StructType([
    StructField("n_events", LongType()),
    StructField("total_e4", LongType()),
])


def _update_user_totals(key: tuple[Any, ...],
                        pdfs: Iterator[pd.DataFrame],
                        state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n_events, total_e4 = state.get
    else:
        n_events, total_e4 = 0, 0
    for pdf in pdfs:
        n_events += len(pdf)
        # State carries the total as a DECIMAL(,4)-scaled integer: exact,
        # so the accumulated value is independent of batch boundaries and
        # partition order, and the emitted double (one IEEE division) is
        # bit-identical to a decimal-sum SQL twin - a float += here would
        # drift by accumulation order and flap the oracle hash.
        total_e4 += int(pdf["value"].fillna(0.0).mul(10000.0).round().sum())
    state.update((n_events, total_e4))
    yield pd.DataFrame({
        "user_id": [user_id],
        "n_events": [n_events],
        "total_value": [total_e4 / 10000.0],
    })


def tws_available() -> bool:
    """Spark 4's transformWithStateInPandas drives its per-executor state
    server over a protobuf protocol; without the google.protobuf package
    the driver-side schema-validation worker crashes before the query
    starts. Gate (don't fail) so environments without protobuf keep the
    applyInPandasWithState path."""
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


def tws_state_store_conf(spark: SparkSession):
    """Scope the RocksDB state-store provider (required by
    transformWithState) to a with-block: the prior providerClass is
    restored - or unset back to Spark's default - on exit, so the
    provider choice cannot leak into subsequent streaming queries on
    the shared session (ADVICE r4: the old unconditional conf.set
    silently switched the applyInPandasWithState fallback's store too).
    The conf is read at query START, so the block must span
    .start()/awaitTermination(), not just plan construction."""
    return scoped_conf(
        spark, "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")


def running_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user running totals via transformWithStateInPandas
    (Spark 4's successor to applyInPandasWithState: typed state
    primitives - value/list/map - timers, TTL, and RocksDB-only state).
    Raises ImportError where protobuf is unavailable (see
    :func:`tws_available`); `running_user_totals` is the portable
    fallback with identical semantics. The returned plan is lazy: start
    it inside :func:`tws_state_store_conf` (transformWithState requires
    the RocksDB provider; this builder no longer mutates session conf
    itself)."""
    if not tws_available():
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf; use "
            "running_user_totals (applyInPandasWithState) instead")
    from pyspark.sql.streaming import StatefulProcessor

    class Processor(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            prior = self._state.get() if self._state.exists() else (0, 0)
            n_events, total_e4 = prior
            for pdf in rows:
                n_events += len(pdf)
                # Same exactness contract as _update_user_totals: the
                # state is a DECIMAL(,4)-scaled integer, batch-boundary-
                # and partition-order insensitive.
                total_e4 += int(
                    pdf["value"].fillna(0.0).mul(10000.0).round().sum())
            self._state.update((n_events, total_e4))
            yield pd.DataFrame({
                "user_id": [key[0]],
                "n_events": [n_events],
                "total_value": [total_e4 / 10000.0],
            })

        def close(self) -> None:
            pass

    events = read_events_stream(spark, sf_dir)
    return (events
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=Processor(),
                outputStructType=OUTPUT_SCHEMA,
                outputMode="Update",
                timeMode="None"))


def running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DataFrame of per-user running totals (update mode)."""
    events = read_events_stream(spark, sf_dir)
    return (events
            .groupBy("user_id")
            .applyInPandasWithState(
                _update_user_totals,
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def run_stateful_to_completion(spark: SparkSession, sf_dir: str,
                               query_name: str = "stateful_totals") -> DataFrame:
    """Execute over all available input; returns the latest state per user
    (the last update emitted for each key)."""
    from .windows import _shuffle_conf, scaled_stream_partitions

    result = running_user_totals(spark, sf_dir)
    # state/shuffle fan-out sized from the input, not the session's 32
    # (guide SS2.2; results are partition-count independent)
    with _shuffle_conf(spark, scaled_stream_partitions(sf_dir)):
        q = (result.writeStream
             .format("memory")
             .queryName(query_name)
             .outputMode("update")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    # Update mode appends one row per key per batch; keep the last emit.
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    raw = spark.table(query_name).withColumn(
        "__order", F.monotonically_increasing_id())
    w = Window.partitionBy("user_id").orderBy(F.desc("__order"))
    return (raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__order"))
