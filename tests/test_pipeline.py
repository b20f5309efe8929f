"""End-to-end medallion pipeline + IO sinks on sf0.001 into a tmp dir."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pipeline_mini_project_01_spark.pipeline import (
    GOLD_VIEWS,
    build_bronze,
    build_silver,
    run_pipeline,
)
from etl_pipeline_mini_project_01_spark.plans import registry
from etl_pipeline_mini_project_01_spark.session import harden
from etl_pipeline_mini_project_01_spark.sources.io import (
    atomic_overwrite,
    write_csv_fallback,
)

SF_DIR = "/root/testdata/sf0.001"


def test_full_pipeline(spark, tmp_path):
    out = str(tmp_path / "warehouse")
    stats = run_pipeline(spark, SF_DIR, out)
    assert stats["bronze_rows"] == 1000
    assert stats["silver_fact_rows"] == 1000
    assert stats["silver_dim_account_rows"] == 150
    for view in ("g1_daily_engagement_summary", "g6_daily_event_trends"):
        assert stats[f"gold_{view}_rows"] > 0
    # bronze partitioned by nothing here; gold tables re-readable
    assert spark.read.parquet(f"{out}/gold/g4_hashtag_performance").count() > 0
    # Each table's concurrent read-back counted that table, not a sibling.
    tables = {"silver": ("dim_date", "dim_account", "fact"),
              "gold": GOLD_VIEWS}
    for layer, names in tables.items():
        for name in names:
            assert stats[f"{layer}_{name}_rows"] == \
                spark.read.parquet(f"{out}/{layer}/{name}").count(), name


#: Spark jobs one `run_pipeline` pass submits at sf0.001: the data
#: writes, the gold queries and RECOVER PARTITIONS. Schemas, read-back
#: counts and the catalog summary come from footers and the catalog.
MEDALLION_JOB_BUDGET = 40


def test_pipeline_job_budget(spark, tmp_path, new_jobs):
    stats = {}
    jobs = new_jobs(lambda: stats.update(
        run_pipeline(spark, SF_DIR, str(tmp_path / "warehouse"))))
    assert jobs <= MEDALLION_JOB_BUDGET
    assert set(stats) == {
        "ddl_statements", "ddl_files", "bronze_rows", "bronze_sec",
        "silver_dim_date_rows", "silver_dim_account_rows",
        "silver_fact_rows", "silver_sec", "gold_sec", "databases", "tables",
        *(f"gold_{view}_rows" for view in GOLD_VIEWS)}


def test_layer_builders_leave_session_conf_unchanged(spark):
    """Silver's and gold's frames are built side by side on driver
    threads, so a builder that set a session conf would race its
    siblings. `load_table` hardens the session on every build; apply it
    first so the snapshot holds the values the builders see."""
    registry.load_all_plans()
    harden(spark)
    before = dict(spark.conf.getAll)
    silver = build_silver(spark, SF_DIR, build_bronze(spark, SF_DIR, "run_c"))
    gold = {v: registry.QUERIES[v](spark, SF_DIR) for v in GOLD_VIEWS}
    assert len(silver) == 3 and len(gold) == 7
    assert dict(spark.conf.getAll) == before


def test_atomic_overwrite_swaps(spark, tmp_path):
    path = str(tmp_path / "t")
    df1 = spark.range(5).withColumn("v", F.lit("one"))
    atomic_overwrite(df1, path)
    assert spark.read.parquet(path).count() == 5
    df2 = spark.range(3).withColumn("v", F.lit("two"))
    atomic_overwrite(df2, path)
    out = spark.read.parquet(path)
    assert out.count() == 3
    assert {r.v for r in out.collect()} == {"two"}
    assert not os.path.exists(path + ".__staging__")
    assert not os.path.exists(path + ".__old__")


def test_csv_fallback_sink(spark, tmp_path):
    path = str(tmp_path / "csv_out")
    df = spark.createDataFrame([(1, "a,b"), (2, None)], "k int, v string")
    write_csv_fallback(df, path)
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 2


def test_bronze_partition_pruning(spark, tmp_path):
    """Bronze is date_key-partitioned; a date filter must prune partitions
    (the engine's replacement for the reference's b-tree indexes)."""
    from etl_pipeline_mini_project_01_spark.pipeline import build_bronze
    from etl_pipeline_mini_project_01_spark.sources.io import atomic_overwrite

    out = str(tmp_path / "bronze_events")
    bronze = build_bronze(spark, SF_DIR, "run_t")
    atomic_overwrite(bronze, out, ["date_key"])
    back = spark.read.parquet(out)
    one_day = back.filter(F.col("date_key") == 20240105)
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(date_key" in plan or \
           "PartitionFilters: [(date_key" in plan or \
           "date_key#" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert one_day.count() > 0
    # pruned scan reads exactly one partition directory
    import os
    dirs = [d for d in os.listdir(out) if d.startswith("date_key=")]
    assert len(dirs) == 30


def test_incremental_bronze_watermark(spark, tmp_path):
    """Incremental ingestion: first run ingests all rows, an
    unchanged-input re-run appends zero (the watermark bookmarks
    progress - no dedup scan)."""
    from etl_pipeline_mini_project_01_spark.pipeline import (
        incremental_bronze_append,
    )

    out = str(tmp_path / "inc")
    r1 = incremental_bronze_append(spark, "/root/testdata/sf0.001", out, "r1")
    assert r1["appended_rows"] == 1000
    r2 = incremental_bronze_append(spark, "/root/testdata/sf0.001", out, "r2")
    assert r2["appended_rows"] == 0
    assert r2["high_watermark"] == r1["high_watermark"]
    total = spark.read.parquet(f"{out}/bronze/events").count()
    assert total == 1000


def test_incremental_retry_is_exactly_once(spark, tmp_path):
    """Crash-window semantics (ADVICE r2): if a run dies AFTER moving its
    files but BEFORE advancing the watermark, the retry of the same
    (run_id, watermark) batch replaces its own files instead of
    re-appending - total row count stays exact, no duplicates."""
    import os

    from etl_pipeline_mini_project_01_spark.pipeline import (
        incremental_bronze_append,
    )

    out = str(tmp_path / "inc_retry")
    incremental_bronze_append(spark, "/root/testdata/sf0.001", out, "r1")
    # Simulate the crash: data landed, watermark advance lost.
    os.remove(f"{out}/bronze/_watermark.json")
    r_retry = incremental_bronze_append(spark, "/root/testdata/sf0.001",
                                        out, "r1")
    assert r_retry["appended_rows"] == 1000  # the tail re-processed...
    total = spark.read.parquet(f"{out}/bronze/events").count()
    assert total == 1000  # ...but replaced, not duplicated


def test_vacuum_orphans_cleans_crashed_writer_scratch(spark, tmp_path):
    import os

    from etl_pipeline_mini_project_01_spark.pipeline import (
        incremental_bronze_append,
    )
    from etl_pipeline_mini_project_01_spark.sources.io import vacuum_orphans

    out = str(tmp_path / "vac")
    incremental_bronze_append(spark, "/root/testdata/sf0.001", out, "r1")
    # fake crashed-writer leftovers beside the table
    os.makedirs(f"{out}/bronze/_incoming_deadbeef0000")
    os.makedirs(f"{out}/bronze/events.__staging__")
    os.makedirs(f"{out}/bronze/events.__old__")
    removed = vacuum_orphans(f"{out}/bronze/events")
    assert len(removed) == 3
    assert not os.path.exists(f"{out}/bronze/_incoming_deadbeef0000")
    # the live table is untouched
    assert spark.read.parquet(f"{out}/bronze/events").count() == 1000


def test_compaction_and_clustered_write(spark, tmp_path):
    """Small-files compaction restores a sane file count; clustered
    writes sort on the cluster key within files (row-group stats become
    selective)."""
    from etl_pipeline_mini_project_01_spark.catalog import load_table
    from etl_pipeline_mini_project_01_spark.sources.io import (
        compact_table,
        write_table_clustered,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    frag = str(tmp_path / "frag")
    events.repartition(16).write.parquet(frag)  # fragment: 16 files
    n_files = compact_table(spark, frag, 2)
    assert n_files <= 2
    assert spark.read.parquet(frag).count() == events.count()

    clustered = str(tmp_path / "clustered")
    write_table_clustered(events.repartition(2), clustered, ["user_id"])
    df = spark.read.parquet(clustered)
    assert df.count() == events.count()
