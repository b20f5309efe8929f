"""Streaming library tests: stateful running totals must agree with the
batch ground truth on bounded input."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_mini_project_01_spark.catalog import load_table
from etl_pipeline_mini_project_01_spark.streaming.stateful import (
    run_stateful_to_completion,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stateful_running_totals_match_batch(spark):
    streamed = {r.user_id: (r.n_events, round(r.total_value, 4))
                for r in run_stateful_to_completion(spark, SF_DIR).collect()}
    batch = {r.user_id: (r.n, round(r.tv, 4))
             for r in (load_table(spark, SF_DIR, "events")
                       .groupBy("user_id")
                       .agg(F.count(F.lit(1)).alias("n"),
                            F.sum("value").alias("tv"))).collect()}
    assert streamed == batch


def test_tws_conf_scope_sets_and_restores_provider(spark):
    """tws_state_store_conf must scope the RocksDB provider to the
    with-block and restore (or unset) the prior value - independent of
    protobuf availability, so this runs in every environment."""
    from etl_pipeline_mini_project_01_spark.session import scoped_conf
    from etl_pipeline_mini_project_01_spark.streaming.stateful import (
        tws_state_store_conf,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    with tws_state_store_conf(spark):
        assert "RocksDBStateStoreProvider" in spark.conf.get(key)
    assert spark.conf.get(key, None) == prior
    # Re-entry after an exception still restores.
    try:
        with tws_state_store_conf(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key, None) == prior
    # The same seam scopes a conf the session already holds: the prior
    # value comes back, exception included.
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    assert prior != "7"
    try:
        with scoped_conf(spark, key, "7"):
            assert spark.conf.get(key) == "7"
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == prior


def test_tws_running_totals_match_batch(spark):
    """transformWithStateInPandas twin (Spark 4 stateful API): identical
    state contract to the applyInPandasWithState path, so on bounded
    input its final per-user rows must equal the batch aggregate.
    Env-gated: the TWS state-server protocol needs google.protobuf,
    absent in some containers - the gate itself is asserted either way."""
    import pytest

    from etl_pipeline_mini_project_01_spark.streaming.stateful import (
        running_user_totals_tws,
        tws_available,
        tws_state_store_conf,
    )

    if not tws_available():
        with pytest.raises(ImportError, match="protobuf"):
            running_user_totals_tws(spark, SF_DIR)
        pytest.skip("google.protobuf unavailable: TWS state protocol "
                    "cannot start in this environment")

    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    with tws_state_store_conf(spark):
        assert "RocksDB" in spark.conf.get(key)
        q = (running_user_totals_tws(spark, SF_DIR).writeStream
             .format("memory").queryName("tws_totals_q")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()
    # The provider choice must not leak into later queries (ADVICE r4).
    assert spark.conf.get(key, None) == prior
    raw = spark.table("tws_totals_q").withColumn(
        "__order", F.monotonically_increasing_id())
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.desc("__order"))
    final = (raw.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") == 1))
    streamed = {r.user_id: (r.n_events, round(r.total_value, 4))
                for r in final.collect()}
    batch = {r.user_id: (r.n, round(r.tv, 4))
             for r in (load_table(spark, SF_DIR, "events")
                       .groupBy("user_id")
                       .agg(F.count(F.lit(1)).alias("n"),
                            F.sum("value").alias("tv"))).collect()}
    assert streamed == batch


def test_stream_stream_join_matches_batch_interval_join(spark):
    """Stream-stream inner join with two-sided time bounds: on bounded
    availableNow input, the emitted matches must equal the batch
    interval join exactly (same keys, same bounds)."""
    from etl_pipeline_mini_project_01_spark.streaming.windows import (
        run_to_completion,
        stream_stream_interval_join,
    )

    joined = stream_stream_interval_join(spark, SF_DIR)
    got = {(r.left_id, r.right_id)
           for r in run_to_completion(joined, output_mode="append").collect()}

    ev = load_table(spark, SF_DIR, "events")
    left = (ev.filter(F.col("event_type") == "view")
            .select(F.col("event_id").alias("left_id"),
                    F.col("user_id").alias("left_user"),
                    F.col("ts").alias("left_ts")))
    right = (ev.filter(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("right_id"),
                     F.col("user_id").alias("right_user"),
                     F.col("ts").alias("right_ts")))
    want = {(r.left_id, r.right_id) for r in left.join(
        right,
        (F.col("left_user") == F.col("right_user"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts")
           + F.expr("INTERVAL 30 minutes"))).collect()}
    assert got, "fixture should produce view->purchase attributions"
    assert got == want
