"""Structured Streaming counterparts over the `events` table
(SURVEY §2.13: absent in the reference - its "real-time" is batch re-runs;
the engine adds true streaming semantics as the north star asks).

Bounded-input pattern: `readStream` over the parquet file with
`trigger(availableNow=True)` processes all existing data exactly once and
terminates - so streaming results on the harness data are deterministic
and comparable to the batch/oracle equivalents. On a live cluster the same
code tails a directory/Kafka topic unchanged.
"""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import harden, scoped_conf


def scaled_stream_partitions(sf_dir: str,
                             prefix: str = "events") -> int | None:
    """ceil(input bytes / 128 MB) - the guide SS2.2 partition target for
    a streaming query over the bounded harness input. A streaming
    aggregation's state store materializes one state+delta file set PER
    PARTITION PER TRIGGER, so the session's fixed 32 wrote 32 sliver
    state files per trigger at harness volume (~1 MB input); the
    derivation scales (a 100 TB/day feed sizes to ~800k
    partitions-worth of bytes, capped by cluster parallelism upstream)
    instead of being tuned to either environment. None (leave the
    session conf) when the directory is not driver-listable (scheme-
    qualified roots go through the session's Hadoop client instead)."""
    try:
        total = sum(os.path.getsize(os.path.join(sf_dir, f))
                    for f in os.listdir(sf_dir)
                    if f.startswith(prefix) and f.endswith(".parquet"))
    except OSError:
        return None
    return max(1, -(-total // (128 << 20)))


def _shuffle_conf(spark: SparkSession, n: int | None):
    """Scoped spark.sql.shuffle.partitions override for one streaming
    run (restored after; Structured Streaming pins the count into the
    checkpoint at first start, so the query stays consistent). None
    leaves the session conf alone."""
    if n is None:
        return contextlib.nullcontext()
    return scoped_conf(spark, "spark.sql.shuffle.partitions", str(n))


#: Streaming-source schema for events, parameterized on how `ts` is
#: physically stored. The harness parquet has shipped it both as INT64
#: nanos and as native timestamp[us] across testdata generations, so the
#: reader adapts instead of assuming (mirrors the conditional in
#: catalog.load_table, which is what keeps the batch path stable).
_EVENTS_STREAM_SCHEMA_TMPL = (
    "event_id bigint, ts {ts_type}, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    harden(spark)
    # Streaming sources need an explicit schema; probe the parquet footer
    # (metadata-only batch read) for the stored `ts` type first - via the
    # SAME glob the stream uses, so probe and stream always see the same
    # files even if a future generation shards to events-*.parquet.
    stored = dict(spark.read.option("pathGlobFilter", "events*.parquet")
                  .parquet(sf_dir).dtypes)["ts"]
    ts_is_int64 = stored == "bigint"
    # LTZ (session tz = UTC), not NTZ: event-time watermarks require
    # TIMESTAMP type; values are identical under the pinned UTC session.
    schema = _EVENTS_STREAM_SCHEMA_TMPL.format(
        ts_type="bigint" if ts_is_int64 else "timestamp")
    # The file-stream source requires a directory; point it at the
    # scale-factor dir and glob-filter to the events file(s).
    raw = (spark.readStream
           .schema(schema)
           .option("pathGlobFilter", "events*.parquet")
           .parquet(sf_dir))
    if ts_is_int64:
        # int64 nanos -> micros (integer div: truncation, matches DuckDB
        # TIMESTAMP_NS -> TIMESTAMP) -> LTZ timestamp.
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def run_to_completion(result: DataFrame, query_name: str | None = None,
                      output_mode: str = "complete",
                      shuffle_partitions: int | None = None) -> DataFrame:
    """Execute a streaming query over all currently-available input
    (availableNow) into a memory sink; return the final result table.
    Aggregations use complete mode; stateful non-aggregations
    (dropDuplicates) use append. `shuffle_partitions` sizes THIS
    query's state/shuffle fan-out (see scaled_stream_partitions);
    results are partition-count independent (the engine-wide 3-vs-32
    sweep), only the state-file sliver count changes."""
    name = query_name or f"q_{uuid.uuid4().hex[:12]}"
    spark = result.sparkSession
    with _shuffle_conf(spark, shuffle_partitions):
        q = (result.writeStream
             .format("memory")
             .queryName(name)
             .outputMode(output_mode)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    return spark.table(name)


def run_to_file_sink(result: DataFrame, out_dir: str, checkpoint_dir: str,
                     output_mode: str = "append",
                     shuffle_partitions: int | None = None) -> DataFrame:
    """The 100 TB sink story: append-mode parquet file sink + checkpoint.

    `run_to_completion`'s complete/memory pattern keeps the whole
    aggregate on the driver - right for the bounded harness, wrong at
    scale. This variant is what a production job runs: the watermark
    closes windows, closed windows append to files (executors write,
    nothing accumulates on the driver), and the checkpoint makes the
    query restartable exactly-once. Windows still open when the bounded
    input ends are (correctly) never emitted - that is append-mode
    semantics, and the oracle twin models it explicitly.
    """
    with _shuffle_conf(result.sparkSession, shuffle_partitions):
        q = (result.writeStream
             .format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", checkpoint_dir)
             .outputMode(output_mode)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    # Read back with the aggregation's schema (the sink dir may hold zero
    # files if no window closed).
    return result.sparkSession.read.schema(result.schema).parquet(out_dir)


def stream_static_segment_counts(spark: SparkSession, sf_dir: str,
                                 watermark: str = "1 day") -> DataFrame:
    """Stream-static join: the event stream enriches against the static
    customer dim, then aggregates per market segment. The canonical
    streaming enrichment shape: at 100 TB/day the stream side stays
    partitioned by arrival and the dim side broadcasts WHEN IT FITS or
    becomes a state-store lookup. No broadcast hint here: customer
    grows with the corpus, and the engine's rule after the r10 sweep is
    that hints are reserved for provably-bounded relations - the
    2-column projection broadcasts anyway at small SF via the size
    check, and at 100x the planner degrades to a shuffle join instead
    of an executor OOM."""
    from ..catalog import load_table

    events = read_events_stream(spark, sf_dir)
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment"))
    return (events
            .withWatermark("ts", watermark)
            .join(cust, events.user_id == cust.c_custkey, "left")
            .groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN"))
                     .alias("segment"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
                 .alias("total_value")))


def dedup_event_stream(spark: SparkSession, sf_dir: str,
                       watermark: str = "1 day") -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    dropDuplicatesWithinWatermark on the event key - dedup keys age out
    of the state store once the watermark passes them. A plain
    dropDuplicates(["event_id"]) would NOT do this: Spark only evicts
    streaming-dedup state when the watermarked event-time column is
    part of the dedup subset, so the watermark was a no-op for state
    and every distinct event_id lived in the store forever - the exact
    unbounded growth this operator exists to prevent at 100 TB (that
    is why dropDuplicatesWithinWatermark exists; the within-watermark
    contract - duplicates are only guaranteed dropped when they arrive
    inside the watermark delay - IS the bounded-state trade, the same
    one Kafka-connector dedup recipes document). The harness events
    are unique by event_id, so a deterministic 10%-duplicate tail is
    unioned in-stream: the operator must emit each event exactly
    once."""
    events = read_events_stream(spark, sf_dir)
    dupes = events.filter(F.col("event_id") % 10 == 0)
    return (events.unionByName(dupes)
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


def tumbling_counts(spark: SparkSession, sf_dir: str,
                    window: str = "6 hours",
                    watermark: str = "1 day") -> DataFrame:
    """Tumbling-window counts per event_type with a watermark (late rows
    beyond `watermark` would be dropped on a live stream)."""
    events = read_events_stream(spark, sf_dir)
    agg = (events
           .withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("win"), "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
                .alias("total_value")))
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "event_type", "n", "total_value")


def sliding_value_avg(spark: SparkSession, sf_dir: str,
                      window: str = "12 hours", slide: str = "6 hours",
                      watermark: str = "1 day") -> DataFrame:
    """Sliding-window average value (each event contributes to
    window/slide overlapping windows)."""
    events = read_events_stream(spark, sf_dir)
    agg = (events
           .withWatermark("ts", watermark)
           .groupBy(F.window("ts", window, slide).alias("win"))
           .agg(F.count(F.lit(1)).alias("n"),
                (F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
                 / F.count(F.lit(1))).alias("avg_value")))
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "n", "avg_value")


def stream_stream_interval_join(spark: SparkSession, sf_dir: str,
                                left_type: str = "view",
                                right_type: str = "purchase",
                                within: str = "30 minutes",
                                watermark: str = "1 hour") -> DataFrame:
    """Stream-STREAM inner join: attribute each `right_type` event to the
    same user's `left_type` events in the preceding `within` interval
    (the view->purchase attribution shape). Both sides are independent
    readStream sources over the same bounded input.

    The state contract that makes this 100 TB-safe: both sides carry a
    watermark AND the join condition bounds event time in both
    directions, so the state store retains only `within`+`watermark` of
    each side per user - without the time bounds, stream-stream join
    state grows forever. State is partitioned by the equi-key (user_id);
    inner-join matches emit as they are found, so availableNow over
    bounded input yields exactly the batch interval-join result (the
    pytest twin in tests/test_streaming.py::test_stream_stream_join).
    """
    left = (read_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == left_type)
            .select(F.col("event_id").alias("left_id"),
                    F.col("user_id").alias("left_user"),
                    F.col("ts").alias("left_ts"),
                    F.col("value").alias("left_value"))
            .withWatermark("left_ts", watermark))
    right = (read_events_stream(spark, sf_dir)
             .filter(F.col("event_type") == right_type)
             .select(F.col("event_id").alias("right_id"),
                     F.col("user_id").alias("right_user"),
                     F.col("ts").alias("right_ts"),
                     F.col("value").alias("right_value"))
             .withWatermark("right_ts", watermark))
    return left.join(
        right,
        (F.col("left_user") == F.col("right_user"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(
            f"INTERVAL {within}")),
        "inner")
