"""End-to-end medallion pipeline (the reference's src/main.py:45-260 run,
Spark-first): bronze (cleaned + lineage) -> silver (dims + SCD2 + fact) ->
gold (7 analytical views), materialized as parquet layers with atomic
swaps.

Differences from the reference by design:
  * steps are one lazy DAG per layer with explicit materialization
    boundaries (saveAsTable-style parquet writes), not imperative
    booleans;
  * silver's single-transaction semantics become stage-to-staging +
    atomic rename (sources/io.atomic_overwrite);
  * each layer's independent tables (silver's 3, gold's 7) are written,
    refreshed and counted back concurrently from driver threads, with a
    barrier between layers: the reference's serial per-table steps are
    separate Spark actions, bound by per-job driver latency;
  * the post-load checks read metadata, not data: row counts from the
    stored files' parquet footers, the catalog summary from SHOW
    statements, so no check submits a Spark job;
  * the per-layer DDL scripts (S9) run as step 0 via sources/ddl
    (spark.sql over models/<layer>/*.sql in lexical order, mirroring
    /root/reference/src/loader/model_executor.py:32-110), declaring the
    medallion catalog the writes then fill.

Run: python -m etl_pipeline_mini_project_01_spark.pipeline <sf_dir> <out_dir>
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .functions.cleaning import nullify_negative, nullify_out_of_domain
from .functions.dates import calendar_attrs, date_key
from .operators.scd import assign_surrogate_keys, scd2_initial
from .plans import registry
from .sources.ddl import execute_ddl_scripts
from .sources.io import atomic_overwrite, catalog_summary, stored_rows
from .sources.resilience import refresh_views, run_concurrently

EVENT_DOMAIN = ("click", "view", "purchase", "signup", "error")

GOLD_VIEWS = (
    "g1_daily_engagement_summary",
    "g2_top_performing_content",
    "g3_account_influence",
    "g4_hashtag_performance",
    "g5_hourly_posting_patterns",
    "g6_daily_event_trends",
    "g7_viral_content",
)


def build_bronze(spark: SparkSession, sf_dir: str, run_id: str) -> DataFrame:
    """Step 1-3: ingest + clean + lineage (bronze_loader.py:79-97 adds
    ingestion_timestamp / pipeline_run_id / data_version)."""
    events = load_table(spark, sf_dir, "events")
    return (events
            .withColumn("value", nullify_negative("value"))
            .withColumn("event_type",
                        nullify_out_of_domain("event_type", EVENT_DOMAIN))
            .withColumn("date_key", date_key("ts"))
            .withColumn("ingestion_timestamp", F.col("ts"))
            .withColumn("pipeline_run_id", F.lit(run_id))
            .withColumn("data_version", F.lit("1.0")))


def build_silver(spark: SparkSession, sf_dir: str,
                 bronze: DataFrame) -> dict[str, DataFrame]:
    """Step 4: star schema - dim_date, dim_account (SCD2-ready), fact."""
    cal = calendar_attrs("ts")
    dim_date = (bronze
                .select(*[expr.alias(name) for name, expr in cal.items()])
                .distinct())
    customers = load_table(spark, sf_dir, "customer")
    dim_account = assign_surrogate_keys(
        scd2_initial(customers, registry.RUN_TS), "account_key",
        ["c_custkey", "valid_from"])
    acct = dim_account.filter(F.col("is_current")).select(
        "account_key", F.col("c_custkey").alias("user_key"))
    # No broadcast hint on the account dim: it derives from the full
    # customer table and grows with the corpus (the r11 sweep removed
    # the last forced big-side hints engine-wide) - AQE size-checks it,
    # broadcast while it fits, shuffle join beyond that.
    fact = (bronze
            .join(acct, bronze.user_id == acct.user_key, "left")
            .select(
                F.col("event_id").alias("event_natural_key"),
                date_key("ts").alias("date_key"),
                "account_key", "event_type", "value",
                "ingestion_timestamp", "pipeline_run_id"))
    return {"dim_date": dim_date, "dim_account": dim_account, "fact": fact}


def _publish(spark: SparkSession, out_dir: str, layer: str, name: str,
             df: DataFrame) -> int:
    """Atomic swap of one `layer.name` table, then the post-load check:
    its row count read back from the stored files' parquet footers (no
    Spark job). REFRESH TABLE drops the catalog's cached file listing
    for later readers; it runs no job either."""
    path = f"{out_dir}/{layer}/{name}"
    atomic_overwrite(df, path)
    spark.sql(f"REFRESH TABLE {layer}.{name}")
    return stored_rows(path)


def run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str,
                 run_id: str = "run_1") -> dict[str, object]:
    """Full bronze -> silver -> gold run; returns per-step stats
    (the reference's post-load verification, silver_etl.py:501-522)."""
    registry.load_all_plans()
    os.makedirs(out_dir, exist_ok=True)
    stats: dict[str, object] = {}

    # Step 0 (S9): literal DDL scripts declare the medallion catalog.
    ddl_report = execute_ddl_scripts(
        spark, {"OUT_DIR": os.path.abspath(out_dir)}, recreate=True)
    stats["ddl_statements"] = sum(ddl_report.values())
    stats["ddl_files"] = len(ddl_report)

    t0 = time.perf_counter()
    bronze = build_bronze(spark, sf_dir, run_id)
    atomic_overwrite(bronze, f"{out_dir}/bronze/events", ["date_key"]
                     if "date_key" in bronze.columns else None)
    # Partitions landed outside the catalog's view: recover them (the
    # at-scale equivalent of the reference's post-COPY ANALYZE).
    spark.sql("ALTER TABLE bronze.events RECOVER PARTITIONS")
    stats["bronze_rows"] = stored_rows(f"{out_dir}/bronze/events")
    stats["bronze_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    silver = build_silver(spark, sf_dir, bronze)
    written = run_concurrently({
        name: partial(_publish, spark, out_dir, "silver", name, df)
        for name, df in silver.items()})
    for name, rows in written.items():  # a failed table raises here
        stats[f"silver_{name}_rows"] = rows.result()
    stats["silver_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    gold_rows: dict[str, int] = {}

    def publish_gold(view: str, df: DataFrame) -> None:
        gold_rows[view] = _publish(spark, out_dir, "gold", view, df)

    report = refresh_views(
        spark,
        {view: (lambda v=view: registry.QUERIES[v](spark, sf_dir))
         for view in GOLD_VIEWS},
        writer=publish_gold)
    for view, status in report.items():
        if status["ok"]:
            stats[f"gold_{view}_rows"] = gold_rows[view]
        else:  # M6 semantics: one broken view never blocks the rest
            stats[f"gold_{view}_error"] = status["error"]
    stats["gold_sec"] = round(time.perf_counter() - t0, 2)
    stats.update(catalog_summary(spark))  # S11 introspection check
    return stats



def incremental_bronze_append(spark: SparkSession, sf_dir: str,
                              out_dir: str, run_id: str) -> dict[str, object]:
    """Watermark-based incremental bronze ingestion (beyond the
    reference: its scheduled re-runs are full re-extracts made
    idempotent by upserts). Reads the stored high-watermark, ingests
    only events with ts > watermark, lands the increment EXACTLY-ONCE,
    then advances the watermark. First run ingests everything; an
    unchanged-input re-run appends ZERO rows - the watermark IS the
    bookmark, no dedup scan needed.

    Exactly-once mechanics (a plain mode('append') would duplicate the
    tail on retry and leave partial files on crash): the increment is
    staged to a scratch dir, then its files move into the table under
    names carrying a deterministic batch tag md5(run_id|watermark).
    A retry of the same (run_id, watermark) batch first deletes any
    files bearing its tag - so a crash at ANY point (mid-stage,
    mid-move, before the watermark advance) re-runs to the identical
    final state. File moves are same-filesystem renames; the watermark
    advance is an os.replace after all data is in place."""
    import hashlib
    import shutil

    bronze_root = os.path.join(out_dir, "bronze")
    table_path = os.path.join(bronze_root, "events")
    wm_path = os.path.join(bronze_root, "_watermark.json")
    wm = None
    if os.path.exists(wm_path):
        with open(wm_path, encoding="utf-8") as fh:
            wm = json.load(fh)["high_watermark"]

    bronze = build_bronze(spark, sf_dir, run_id)
    if wm is not None:
        bronze = bronze.filter(F.col("ts") > F.lit(wm).cast("timestamp_ntz"))
    # Control-plane scalars (the bookmark and the increment's size) in
    # one job, not a data-path collect.
    new_max, increment = bronze.agg(F.max("ts"), F.count(F.lit(1))).first()
    appended = 0
    if new_max is not None:
        batch_tag = hashlib.md5(f"{run_id}|{wm}".encode()).hexdigest()[:12]
        staging = os.path.join(bronze_root, f"_incoming_{batch_tag}")
        shutil.rmtree(staging, ignore_errors=True)
        appended = increment
        bronze.write.mode("overwrite").partitionBy("date_key").parquet(staging)
        # Idempotent retry: purge any files a previous attempt of THIS
        # batch already moved in, then move the fresh staging files.
        for root, _, files in os.walk(table_path):
            for f in files:
                if f.startswith(f"{batch_tag}-"):
                    os.remove(os.path.join(root, f))
        for root, _, files in os.walk(staging):
            for f in files:
                if not f.endswith(".parquet"):
                    continue  # _SUCCESS markers etc.
                rel = os.path.relpath(root, staging)
                dest_dir = os.path.join(table_path, rel)
                os.makedirs(dest_dir, exist_ok=True)
                os.rename(os.path.join(root, f),
                          os.path.join(dest_dir, f"{batch_tag}-{f}"))
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(bronze_root, exist_ok=True)
        tmp = wm_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"high_watermark": str(new_max)}, fh)
        os.replace(tmp, wm_path)
    return {"appended_rows": appended,
            "high_watermark": str(new_max) if new_max else wm}


def main() -> None:
    from .session import get_spark
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/medallion"
    spark = get_spark("medallion-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run_pipeline(spark, sf_dir, out_dir)))
    spark.stop()


if __name__ == "__main__":
    main()
