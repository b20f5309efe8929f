"""S2 retry / S10 dynamic DDL / M6 tolerant refresh unit tests."""

from __future__ import annotations

import sys
import threading
import time

import pytest

from etl_pipeline_mini_project_01_spark.sources.resilience import (
    refresh_views,
    schema_to_ddl,
    with_retry,
)


def test_with_retry_succeeds_after_failures():
    calls = {"n": 0}
    delays = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    assert with_retry(flaky, attempts=3, sleep=delays.append) == "ok"
    assert calls["n"] == 3
    assert delays == [2.0, 4.0]  # exponential backoff


def test_with_retry_exhausts():
    def always_fails():
        raise OSError("down")

    with pytest.raises(OSError):
        with_retry(always_fails, attempts=2, sleep=lambda _: None)


def test_schema_to_ddl(spark):
    df = spark.createDataFrame([(1, "x", 1.5)], "k int, name string, v double")
    ddl = schema_to_ddl(df, "bronze.events")
    assert "CREATE TABLE IF NOT EXISTS bronze.events" in ddl
    assert "`k` INT" in ddl and "`name` STRING" in ddl and "`v` DOUBLE" in ddl


def test_refresh_views_tolerates_partial_failure(spark):
    written = {}
    # Only the two good views reach their writer: the bad one raises in
    # its builder, and must not leave the others waiting on it.
    barrier = threading.Barrier(2, timeout=30)

    def boom():
        raise RuntimeError("bad view")

    def writer(name, df):
        barrier.wait()
        written[name] = df.count()

    report = refresh_views(
        spark,
        {"good": lambda: spark.range(3), "bad": boom,
         "also_good": lambda: spark.range(1)},
        writer=writer)
    assert report["good"]["ok"] and report["also_good"]["ok"]
    assert not report["bad"]["ok"] and "bad view" in report["bad"]["error"]
    assert written == {"good": 3, "also_good": 1}


def test_refresh_views_runs_writers_concurrently(spark):
    """Every writer waits for all the others: a serial refresh breaks the
    barrier (its views report ok=False) instead of hanging. More views
    than cores and a short switch interval stress the shared report."""
    names = [f"v{i}" for i in (7, 3, 5, 0, 6, 1, 4, 2)]
    barrier = threading.Barrier(len(names), timeout=30)
    written = {}

    def writer(name, df):
        barrier.wait()
        if name == names[0]:
            time.sleep(0.2)  # finishes last, reported first
        written[name] = df.count()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        report = refresh_views(
            spark, {n: (lambda n=n: spark.range(int(n[1:]))) for n in names},
            writer)
    finally:
        sys.setswitchinterval(interval)
    assert list(report) == names
    assert all(status["ok"] for status in report.values()), report
    assert written == {n: int(n[1:]) for n in names}


def test_refresh_views_empty():
    assert refresh_views(None, {}, lambda name, df: None) == {}


def test_refresh_views_inherits_job_group(spark):
    """Writers run on pool threads with the caller's local properties, so
    every job they submit carries the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty  # store catches up
    drain()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("refresh-test", "job-group inheritance")
    try:
        report = refresh_views(
            spark, {f"v{i}": (lambda i=i: spark.range(i + 1))
                    for i in range(3)},
            writer=lambda name, df: df.collect())
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert all(status["ok"] for status in report.values()), report
    drain()
    grouped = set(tracker.getJobIdsForGroup("refresh-test"))
    assert len(grouped) >= 3
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_sentiment_backend_factory(spark):
    """U2 real-model wiring: the 'hf' backend builds the same UDF shape
    and env-gates cleanly when transformers/torch are absent; 'lexicon'
    stays the deterministic default."""
    import pytest

    from etl_pipeline_mini_project_01_spark.operators import inference

    udf_lex = inference.make_sentiment_udf("lexicon")
    df = spark.createDataFrame([("fast good best",), ("slow bad error",)],
                               ["text"])
    rows = df.select(udf_lex("text").alias("s")).collect()
    assert rows[0]["s"]["sentiment_value"] == "Positive"
    assert rows[1]["s"]["sentiment_value"] == "Negative"

    with pytest.raises(ValueError):
        inference.make_sentiment_udf("nope")

    try:
        import transformers  # noqa: F401
        has_hf = True
    except ImportError:
        has_hf = False
    if not has_hf:
        # UDF construction succeeds; model load env-gates at call time.
        udf_hf = inference.make_sentiment_udf("hf")
        with pytest.raises(Exception, match="NotImplementedError|transformers"):
            df.select(udf_hf("text").alias("s")).collect()
