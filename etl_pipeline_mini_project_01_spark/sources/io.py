"""Sources & sinks (SURVEY §2.1 S1-S11).

The reference moves data as CSV text into Postgres via COPY
(bronze_loader.py:109-141) with executemany fallbacks; the engine's
equivalents are columnar parquet writes with atomic-swap semantics for
"REFRESH MATERIALIZED VIEW CONCURRENTLY" (gold_refresh.py:40-74).

Scale notes: writes partition by date_key where the layer has one (the
engine's replacement for the reference's 25+ b-tree indexes is partition
pruning + parquet min/max skipping); the atomic swap is rename-based on
posix/HDFS-style filesystems.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .filestats import walk_parquet


def write_table(df: DataFrame, path: str, mode: str = "overwrite",
                partition_by: list[str] | None = None) -> None:
    """S5/S8: bulk columnar sink (COPY -> parquet write; truncate/recreate
    -> mode='overwrite')."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv_fallback(df: DataFrame, path: str) -> None:
    """S4: CSV sink used when the primary sink fails (main.py:127-129)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def atomic_overwrite(df: DataFrame, path: str,
                     partition_by: list[str] | None = None) -> None:
    """M6 'refresh concurrently': materialize to a staging dir, then swap.

    Readers of `path` never observe a partial table; equivalent of
    REFRESH MATERIALIZED VIEW CONCURRENTLY (gold_refresh.py:52-55).
    Driver-local-path scope, deliberately: this is the LEGACY rename
    dance (a reader holding the old directory can lose files mid-scan,
    as SCALE.md documents) - scheme-qualified / multi-reader
    tables belong on sources/versioned.py, whose snapshot+manifest
    protocol runs on any filesystem via sources/fsio.py.
    Concurrent calls are safe on distinct paths, not on the same path:
    they would share its `.__staging__` and `.__old__` directories.
    """
    staging = path.rstrip("/") + ".__staging__"
    backup = path.rstrip("/") + ".__old__"
    write_table(df, staging, "overwrite", partition_by)
    if os.path.exists(backup):
        shutil.rmtree(backup)
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(staging, path)
    if os.path.exists(backup):
        shutil.rmtree(backup)


def stored_rows(path: str) -> int:
    """Rows stored in the parquet table at `path`, summed from its data
    files' footers: a read-back of what landed, with no Spark job. The
    file set is `walk_parquet`'s, the one visibility rule the engine's
    footer readers share."""
    return sum(pq.read_metadata(p).num_rows for _, p in walk_parquet(path))


def catalog_summary(spark: SparkSession) -> dict[str, int]:
    """S11: catalog introspection (model_executor.py:139-194 counts of
    schemas/tables/matviews). `SHOW DATABASES` / `SHOW TABLES IN db`
    read names only, so no relation is resolved and no job runs; every
    row counts, temporary views included (listed under each database,
    as `spark.catalog.listTables` lists them)."""
    dbs = [r[0] for r in spark.sql("SHOW DATABASES").collect()]
    n_tables = sum(
        len(spark.sql(f"SHOW TABLES IN `{db.replace('`', '``')}`").collect())
        for db in dbs)
    return {"databases": len(dbs), "tables": n_tables}


def compact_table(spark: SparkSession, path: str, target_files: int,
                  partition_by: list[str] | None = None) -> int:
    """Operational compaction: rewrite a table to `target_files` files
    (per partition dir if partitioned) via the atomic swap. The
    small-files problem is the classic streaming/incremental-append
    failure mode at scale - many tiny parquet files destroy scan
    throughput; periodic compaction restores it. Returns file count
    after compaction."""
    df = spark.read.parquet(path)
    atomic_overwrite(df.coalesce(target_files), path, partition_by)
    return sum(1 for root, _, files in os.walk(path)
               for f in files if f.endswith(".parquet"))


def write_table_clustered(df: DataFrame, path: str, cluster_by: list[str],
                          partition_by: list[str] | None = None) -> None:
    """Sort-on-write clustering: sortWithinPartitions(cluster_by) before
    the parquet write so row-group min/max stats become selective on the
    cluster keys - the format-free analogue of ZORDER/liquid clustering;
    point/range filters on those keys then skip whole row groups."""
    write_table(df.sortWithinPartitions(*cluster_by), path,
                "overwrite", partition_by)


def vacuum_orphans(table_root: str) -> list[str]:
    """Day-2 hygiene: remove leftover scratch from crashed writers - the
    `_incoming_<tag>` staging dirs of incremental appends and the
    `.__staging__` / `.__old__` dirs of interrupted atomic swaps. Safe by
    construction: writers never read these paths back; a LIVE writer's
    staging is recreated from scratch on its retry (its batch-tagged
    moves are idempotent), so vacuuming concurrently with a crashed
    run's retry cannot lose data. Returns the removed paths."""
    removed: list[str] = []
    parent = os.path.dirname(table_root.rstrip("/")) or "."
    if not os.path.isdir(parent):
        return removed
    for entry in sorted(os.listdir(parent)):
        full = os.path.join(parent, entry)
        if not os.path.isdir(full):
            continue
        if (entry.startswith("_incoming_")
                or entry.endswith(".__staging__")
                or entry.endswith(".__old__")):
            shutil.rmtree(full, ignore_errors=True)
            removed.append(full)
    return removed
