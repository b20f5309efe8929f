"""Streaming query surface: REAL Structured Streaming runs (availableNow
over the bounded harness input => deterministic, oracle-checkable) plus
the batch sessionization op.

The oracles are plain window aggregations: on bounded input, a completed
availableNow streaming aggregation in complete mode equals the batch
aggregation - which is exactly the correctness property worth gating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import scratch_dir
from ..streaming.windows import (
    dedup_event_stream,
    run_to_completion,
    run_to_file_sink,
    scaled_stream_partitions,
    sliding_value_avg,
    stream_static_segment_counts,
    stream_stream_interval_join,
    tumbling_counts,
)
from .parity import dsum, sql_dsum
from .registry import register


@register(
    "stream_tumbling_counts",
    oracle=f"""
SELECT time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
       time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP)) + INTERVAL 6 HOUR
           AS window_end,
       event_type,
       COUNT(*) AS n,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
""",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregation, executed as a genuine
    streaming query (readStream -> watermark -> window agg -> memory sink,
    availableNow trigger) and compared against the batch semantics."""
    return (run_to_completion(
        tumbling_counts(spark, sf_dir), "stream_tumbling_counts",
        shuffle_partitions=scaled_stream_partitions(sf_dir))
            .orderBy("window_start", "event_type"))


@register(
    "stream_sliding_value_avg",
    oracle=f"""
WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
assigned AS (
    SELECT unnest([time_bucket(INTERVAL 6 HOUR, ts),
                   time_bucket(INTERVAL 6 HOUR, ts) - INTERVAL 6 HOUR])
               AS window_start,
           value
    FROM ev
)
SELECT window_start,
       window_start + INTERVAL 12 HOUR AS window_end,
       COUNT(*) AS n,
       {sql_dsum('value')} / COUNT(*) AS avg_value
FROM assigned
GROUP BY window_start
ORDER BY window_start
""",
)
def stream_sliding_value_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (12h window / 6h slide) streaming average - each
    event lands in two epoch-aligned windows; real streaming execution."""
    return (run_to_completion(
        sliding_value_avg(spark, sf_dir), "stream_sliding_value_avg",
        shuffle_partitions=scaled_stream_partitions(sf_dir))
            .orderBy("window_start"))


@register(
    "stream_file_sink_counts",
    oracle=f"""
WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS watermark FROM ev),
agg AS (
    SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start,
           time_bucket(INTERVAL 6 HOUR, ts) + INTERVAL 6 HOUR AS window_end,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS total_value
    FROM ev
    GROUP BY 1, 2, 3
)
SELECT a.window_start, a.window_end, a.event_type, a.n, a.total_value
FROM agg a, wm
WHERE a.window_end <= wm.watermark
ORDER BY a.window_start, a.event_type
""",
)
def stream_file_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode file-sink streaming run (the scale path beside the
    complete/memory harness pattern): tumbling 6h counts, 1h watermark,
    parquet sink + checkpoint, availableNow. Only windows the watermark
    closed (window_end <= max event time - 1h) are emitted - the oracle
    models exactly that append-mode contract."""
    import shutil

    # Cleared up-front so every call is a fresh run.
    scratch = scratch_dir("stream_sink", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    agg = tumbling_counts(spark, sf_dir, watermark="1 hour")
    out = run_to_file_sink(
        agg, f"{scratch}/out", f"{scratch}/ckpt",
        shuffle_partitions=scaled_stream_partitions(sf_dir))
    return out.orderBy("window_start", "event_type")


@register(
    "sessionization_gaps",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           CASE WHEN CAST(ts AS TIMESTAMP)
                     - LAG(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL 1 HOUR
                     OR LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                THEN 1 ELSE 0 END AS is_new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, ts, value,
           CAST(SUM(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
    FROM ordered
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       {sql_dsum('value')} AS session_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
)
def sessionization_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows via gap detection (1h inactivity closes a session):
    LAG + cumulative-sum session ids + per-session rollup - the batch
    equivalent of streaming session windows (F.session_window), expressed
    so the oracle is engine-neutral. Two window passes over one shuffle
    on user_id."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # Interval comparison (microsecond-exact, matching the oracle's
    # `ts - LAG(ts) > INTERVAL 1 HOUR`; unix_timestamp would truncate).
    gap = (F.col("ts") - prev_ts) > F.expr("INTERVAL 1 HOUR")
    ordered = events.withColumn(
        "is_new_session",
        F.when(prev_ts.isNull() | gap, 1).otherwise(0))
    w_cum = (Window.partitionBy("user_id").orderBy("ts")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sessions = ordered.withColumn("session_id",
                                  F.sum("is_new_session").over(w_cum))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             dsum("value", "session_value"))
        .orderBy("user_id", "session_id")
    )


@register(
    "stream_static_join_segments",
    oracle=f"""
SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
       COUNT(*) AS n,
       {sql_dsum('e.value')} AS total_value
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
ORDER BY segment
""",
)
def stream_static_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (streaming events x broadcast
    customer dim) + per-segment aggregation, run as a real streaming
    query; on bounded input the completed result equals the batch
    join-aggregate, which is the oracle."""
    return (run_to_completion(
        stream_static_segment_counts(spark, sf_dir),
        "stream_static_join_q",
        shuffle_partitions=scaled_stream_partitions(sf_dir))
            .orderBy("segment"))


@register(
    "stream_dedup_events",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n,
       COUNT(DISTINCT event_id) AS n_distinct_ids,
       CAST(SUM(event_id) AS BIGINT) AS id_fingerprint,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark: bounded
    state, keys age out past the watermark): the input stream carries a
    deterministic 10%-duplicate tail; the operator must emit every
    event exactly ONCE. r12 re-point (VERDICT r11 #6): the deduped
    stream lands in an append-mode parquet FILE sink (executors write,
    nothing accumulates on the driver - the 100 TB shape; the old
    memory sink held ~1.1M rows of driver memory at sf1.0) and the
    CONTRACT ROW is the O(event-types) read-back fingerprint: per type,
    row count vs distinct-id count (any surviving duplicate splits
    them), the id sum, and the decimal-exact value sum - equal to the
    batch table's aggregate iff the emission is exactly-once."""
    import shutil

    scratch = scratch_dir("stream_dedup", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    deduped = run_to_file_sink(
        dedup_event_stream(spark, sf_dir),
        f"{scratch}/out", f"{scratch}/ckpt",
        shuffle_partitions=scaled_stream_partitions(sf_dir))
    return (deduped
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("event_id").alias("n_distinct_ids"),
                 F.sum("event_id").cast("bigint").alias("id_fingerprint"),
                 dsum("value", "total_value"))
            .orderBy("event_type"))


@register(
    "stream_stateful_running_totals",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,4))) AS DOUBLE)
           AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def stream_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running totals carried in the state store across micro-batches. The
    final state per user equals the batch per-user aggregate - which is
    the oracle: the state accumulates a DECIMAL(,4)-scaled integer
    (streaming/stateful.py), so the emitted double matches the decimal-sum
    SQL twin bit-exactly regardless of micro-batch boundaries."""
    from ..streaming.stateful import run_stateful_to_completion
    return run_stateful_to_completion(
        spark, sf_dir, "stateful_totals_q").orderBy("user_id")


@register(
    "session_window_native",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           CASE WHEN CAST(ts AS TIMESTAMP)
                     - LAG(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL 1 HOUR
                     OR LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                THEN 1 ELSE 0 END AS is_new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
    SELECT user_id, ts, value,
           SUM(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM ordered
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 1 HOUR AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS session_value
FROM sessions
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 1h gap): Spark merges
    events whose gaps stay under the timeout; window.end = last event +
    gap. Oracle = the LAG/cumsum sessionization - proving the built-in
    operator implements exactly the gap semantics. Works identically as a
    streaming aggregation (session_window is stream-capable)."""
    events = load_table(spark, sf_dir, "events")
    sw = F.session_window("ts", "1 hour")
    return (
        events.groupBy(sw.alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             dsum("value", "session_value"))
        .select("user_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events", "session_value")
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_interval_join",
    oracle="""
WITH v AS (
    SELECT event_id AS left_id, user_id, CAST(ts AS TIMESTAMP) AS left_ts
    FROM events WHERE event_type = 'view'
),
p AS (
    SELECT event_id AS right_id, user_id, CAST(ts AS TIMESTAMP) AS right_ts
    FROM events WHERE event_type = 'purchase'
)
SELECT v.left_id, p.right_id, v.user_id
FROM v
JOIN p ON v.user_id = p.user_id
      AND p.right_ts >= v.left_ts
      AND p.right_ts <= v.left_ts + INTERVAL 30 MINUTE
ORDER BY left_id, right_id
""",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner interval join (view -> purchase attribution,
    streaming/windows.py:160): two independent readStream sources, both
    watermarked, with the join condition bounding event time in BOTH
    directions - the contract that keeps join state finite at 100 TB.
    Run as a real streaming query (append mode, availableNow); on the
    bounded input the emitted matches equal the batch interval join,
    which is exactly the oracle."""
    joined = stream_stream_interval_join(spark, sf_dir)
    out = run_to_completion(
        joined, "stream_interval_join", output_mode="append",
        shuffle_partitions=scaled_stream_partitions(sf_dir))
    return (out.select("left_id", "right_id",
                       F.col("left_user").alias("user_id"))
            .orderBy("left_id", "right_id"))
