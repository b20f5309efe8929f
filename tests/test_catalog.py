"""The harness loader and the catalog summary answer metadata questions
from parquet footers and the catalog, never with a Spark job: the
footer schema must equal the one Spark infers, nullability included,
and neither `load_table` nor `catalog_summary` may submit a job."""

from __future__ import annotations

import os

import pytest

from conftest import SF_DIR

from etl_pipeline_mini_project_01_spark.catalog import TABLES, load_table
from etl_pipeline_mini_project_01_spark.sources.io import catalog_summary


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred_schema(spark, sf):
    sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    for name in TABLES:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert load_table(spark, sf_dir, name).schema == inferred, name


def test_footer_schema_of_a_spark_written_table(spark, tmp_path):
    """A table directory (as the scale tools write them) reads its
    schema from its first visible data file."""
    sf_dir = str(tmp_path)
    load_table(spark, SF_DIR, "orders").repartition(3).write.parquet(
        f"{sf_dir}/orders.parquet")
    inferred = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    assert load_table(spark, sf_dir, "orders").schema == inferred


def test_load_table_and_catalog_summary_run_no_job(spark, new_jobs):
    for name in TABLES:
        assert new_jobs(lambda: load_table(spark, SF_DIR, name)) == 0, name
    spark.range(2).createOrReplaceTempView("summary_probe_view")
    try:
        summary = {}
        assert new_jobs(lambda: summary.update(catalog_summary(spark))) == 0
        dbs = spark.catalog.listDatabases()
        assert summary == {
            "databases": len(dbs),
            "tables": sum(len(spark.catalog.listTables(db.name))
                          for db in dbs)}
    finally:
        spark.catalog.dropTempView("summary_probe_view")
