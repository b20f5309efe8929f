"""SparkSession factory and session hardening.

The reference pipeline is a single-process Polars+Postgres client; here the
"session" is a real distributed query engine handle. Everything downstream
assumes:
  * UTC session timezone (oracle parity: the reference stores tz-aware UTC
    timestamps, see /root/reference/src/extractor/hashtag_data_extractor.py:266-281),
  * AQE enabled (runtime re-planning, skew-join handling at scale),
  * nanosecond parquet timestamps readable (the harness testdata stores
    TIMESTAMP(NANOS) which Spark only reads via the nanosAsLong conf).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Confs that are safe to set on a live session (runtime-settable).
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Harness parquet writes ts as INT64 TIMESTAMP(NANOS,false); Spark has no
    # nanos timestamp, so read raw int64 and convert in the catalog loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas/pandas_udf interchange (vectorized, not per-row).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Perf: a foreign (driver-provided) session defaults to 200 shuffle
    # partitions - far too many tasks for the harness volumes and a real
    # fleet alike before AQE coalesces them. These are all runtime-settable.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Write timestamps as INT64 TIMESTAMP_MICROS, not the legacy INT96:
    # parquet never records min/max statistics for INT96, so the
    # manifest add-action stats (sources/filestats.py) - and parquet's
    # own row-group skipping - are blind to time-range predicates on
    # anything the engine writes. Micros is the modern representation
    # (INT96 is deprecated in the format), read identically by Spark,
    # DuckDB and pyarrow.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}

#: Confs we want at session build time. Everything tunable lives ONCE
#: in RUNTIME_CONF (a value restated here would silently shadow a
#: future RUNTIME_CONF change, splitting built vs hardened-foreign
#: sessions); only genuinely build-time-only keys are added.
#: Shuffle-partition sizing note: 32 partitions on local[32] with
#: 100MB-scale inputs avoids tiny-task overhead; at cluster scale this
#: is sized to data volume / 128MB target.
BUILD_CONF: dict[str, str] = {
    **RUNTIME_CONF,
    "spark.ui.enabled": "false",
    # Local-mode driver hosts every executor thread in ONE JVM; the 1g
    # default heap is starved at local[32] (measured: a two-pass bench
    # reaches 717MB/1024MB with 12s cumulative GC - a third pass
    # thrashes). Env-overridable; on a real cluster executor/driver
    # memory is sized explicitly per deployment and this default is
    # irrelevant (the correctness driver supplies its own session,
    # where build-time confs cannot apply at all).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
}


def get_spark(app_name: str = "etl-mini-spark-engine",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in {**BUILD_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return harden(spark)


def harden(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to a session we did not build.

    The correctness driver hands us *its* SparkSession; oracle parity
    (timezone) and testdata readability (nanos parquet) must not depend on
    how that session was constructed.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked down: best effort
            pass
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf for a with-block; on exit (exception
    included) restore the prior session value, or unset the key if the
    session had none. The one seam for session-scoped Spark config."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
