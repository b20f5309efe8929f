"""Shared fixtures: one SparkSession per test run + the DuckDB oracle rig
that mimics the driver's t2 correctness check (row-count + schema +
order-insensitive value comparison)."""

from __future__ import annotations

import os
import sys
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_mini_project_01_spark.catalog import TABLES  # noqa: E402
from etl_pipeline_mini_project_01_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("engine-tests", master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture
def new_jobs(spark):
    """`new_jobs(fn)` runs `fn()` under a fresh job group and returns the
    number of Spark jobs it submitted, read from the status store once
    the listener bus has drained. Worker threads that carry the caller's
    local properties count too; jobs other threads submit meanwhile do
    not."""
    sc = spark.sparkContext
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty

    def count(fn) -> int:
        group = f"new-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        drain()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


# Canonicalization lives in driver_mimic.py (the standalone driver replica)
# so pytest parity and the mimic CANNOT drift apart again - round 1's four
# red rows all came from the old collect()-based canon here missing pandas
# dtype representation (HUGEINT->float64) and Arrow-cast failures.
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from driver_mimic import canon_frame  # noqa: E402


def assert_query_matches_oracle(spark, duck, name, sf_dir=SF_DIR):
    from etl_pipeline_mini_project_01_spark.plans.registry import ORACLES, QUERIES

    # Arrow toPandas / duckdb .df(): the grading driver's exact path.
    s_cols, s_canon = canon_frame(QUERIES[name](spark, sf_dir).toPandas())
    d_cols, d_canon = canon_frame(duck.sql(ORACLES[name]).df())

    assert s_cols == d_cols, (
        f"{name}: column mismatch spark={s_cols} duck={d_cols}"
    )
    assert len(s_canon) == len(d_canon), (
        f"{name}: row count mismatch spark={len(s_canon)} duck={len(d_canon)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_canon, d_canon)) if a != b
    ]
    if mismatches:
        i, a, b = mismatches[0]
        raise AssertionError(
            f"{name}: {len(mismatches)}/{len(s_canon)} rows differ; first at "
            f"sorted-index {i}\n  cols:  {s_cols}\n  spark: {a}\n  duck:  {b}"
        )
