"""Day-2 operations as a driver-checkable query surface: incremental
ingestion idempotence, small-files compaction, and clustered rewrite -
the operational loop a 100 TB lakehouse table actually lives by (beyond
the reference, whose scheduled re-runs are full re-extracts).

The query RUNS the real operators against a per-call scratch table and
emits the invariants they must uphold as (step, value) rows; the oracle
states the same invariants from the input alone:
  * first incremental run appends exactly the source row count;
  * an unchanged-input re-run appends ZERO (watermark bookkeeping);
  * compaction to 1 file per partition leaves one file per distinct day
    and loses no rows;
  * a sort-within-partitions clustered rewrite loses no rows;
  * orphan vacuum removes exactly the planted crashed-writer scratch
    (one `_incoming_*` staging dir + one interrupted-swap `.__old__`)
    and the table's rows survive untouched.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (plan-module idiom)

from ..catalog import steps_frame
from ..pipeline import incremental_bronze_append
from ..session import scoped_conf, scratch_dir
from ..sources.io import compact_table, vacuum_orphans, write_table_clustered
from .registry import register

_DAY2_ORACLE = """
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM events),
d AS (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days
      FROM events)
SELECT s.step, s.value
FROM n, d, LATERAL (VALUES
    ('1_initial_append_rows', n.c),
    ('2_rerun_append_rows', CAST(0 AS BIGINT)),
    ('3_table_rows', n.c),
    ('4_files_after_compact', d.days),
    ('5_rows_after_compact', n.c),
    ('6_rows_after_clustered', n.c),
    ('7_orphans_removed', CAST(2 AS BIGINT)),
    ('8_rows_after_vacuum', n.c)) s(step, value)
ORDER BY s.step
"""


@register("day2_incremental_counts", oracle=_DAY2_ORACLE)
def day2_incremental_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercise the day-2 trio end-to-end (pipeline.py
    incremental_bronze_append; sources/io.py compact_table /
    write_table_clustered) and emit their invariants."""
    out = scratch_dir("day2", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    table = os.path.join(out, "bronze", "events")

    r1 = incremental_bronze_append(spark, sf_dir, out, "day2_r1")
    r2 = incremental_bronze_append(spark, sf_dir, out, "day2_r2")
    table_rows = spark.read.parquet(table).count()
    n_files = compact_table(spark, table, 1, ["date_key"])
    rows_after_compact = spark.read.parquet(table).count()
    write_table_clustered(spark.read.parquet(table),
                          os.path.join(out, "bronze", "events_clustered"),
                          ["user_id", "ts"])
    rows_clustered = spark.read.parquet(
        os.path.join(out, "bronze", "events_clustered")).count()

    # Plant the two crashed-writer shapes vacuum_orphans exists for: an
    # abandoned incremental staging dir and an interrupted-swap backup.
    parent = os.path.dirname(table)
    for orphan in ("_incoming_deadbeef", "events.__old__"):
        os.makedirs(os.path.join(parent, orphan), exist_ok=True)
    removed = vacuum_orphans(table)
    rows_after_vacuum = spark.read.parquet(table).count()

    steps = [
        ("1_initial_append_rows", int(r1["appended_rows"])),
        ("2_rerun_append_rows", int(r2["appended_rows"])),
        ("3_table_rows", int(table_rows)),
        ("4_files_after_compact", int(n_files)),
        ("5_rows_after_compact", int(rows_after_compact)),
        ("6_rows_after_clustered", int(rows_clustered)),
        ("7_orphans_removed", len(removed)),
        ("8_rows_after_vacuum", int(rows_after_vacuum)),
    ]
    return (steps_frame(spark, steps, "step string, value bigint")
            .orderBy("step"))


_EVOLUTION_ORACLE = """
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM events)
SELECT s.step, s.value
FROM n, LATERAL (VALUES
    ('1_v1_rows', n.c),
    ('2_v2_rows', n.c),
    ('3_merged_rows', 2 * n.c),
    ('4_merged_cols', CAST(4 AS BIGINT)),
    ('5_v1_null_source', n.c),
    ('6_v2_source_rows', n.c)) s(step, value)
ORDER BY s.step
"""


@register("day2_schema_evolution", oracle=_EVOLUTION_ORACLE)
def day2_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a live table (the other unavoidable day-2 op):
    a v1 writer lands (event_id, user_id, value); a later v2 writer adds
    a `source` column to the SAME directory; a mergeSchema read must see
    the union schema with v1 rows NULL in the new column - no rewrite of
    old files. The oracle states the invariants (row/column counts,
    NULL accounting) from the input alone."""
    from ..catalog import load_table

    out = scratch_dir("evolve", sf_dir)
    shutil.rmtree(out, ignore_errors=True)

    events = load_table(spark, sf_dir, "events")
    v1 = events.select("event_id", "user_id", "value")
    v2 = v1.withColumn("source", F.lit("v2"))
    v1.write.mode("overwrite").parquet(out)
    v2.write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    n_v1 = v1.count()
    steps = [
        ("1_v1_rows", n_v1),
        ("2_v2_rows", int(v2.count())),
        ("3_merged_rows", int(merged.count())),
        ("4_merged_cols", len(merged.columns)),
        ("5_v1_null_source", int(merged.where(F.col("source").isNull())
                                 .count())),
        ("6_v2_source_rows", int(merged.where(F.col("source") == "v2")
                                 .count())),
    ]
    return (steps_frame(spark, steps, "step string, value bigint")
            .orderBy("step"))


#: The oracle literals ARE the DDL contract: one row per table declared
#: under models/<layer>/*.sql with its column count (partition columns
#: included). A models/ edit that forgets to update this oracle fails
#: the driver row loudly - which is the point.
_S9_ORACLE = """
SELECT s.layer, s.table_name, s.n_columns
FROM (VALUES
    ('bronze', 'events', CAST(10 AS BIGINT)),
    ('gold', 'g1_daily_engagement_summary', CAST(15 AS BIGINT)),
    ('gold', 'g2_top_performing_content', CAST(8 AS BIGINT)),
    ('gold', 'g3_account_influence', CAST(11 AS BIGINT)),
    ('gold', 'g4_hashtag_performance', CAST(5 AS BIGINT)),
    ('gold', 'g5_hourly_posting_patterns', CAST(7 AS BIGINT)),
    ('gold', 'g6_daily_event_trends', CAST(8 AS BIGINT)),
    ('gold', 'g7_viral_content', CAST(8 AS BIGINT)),
    ('silver', 'dim_account', CAST(9 AS BIGINT)),
    ('silver', 'dim_date', CAST(11 AS BIGINT)),
    ('silver', 'fact', CAST(7 AS BIGINT))) s(layer, table_name, n_columns)
ORDER BY s.layer, s.table_name
"""


@register("s9_ddl_catalog", oracle=_S9_ORACLE)
def s9_ddl_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 as a driver row: execute the literal DDL scripts
    (sources/ddl.py - lexical order, ${VAR} substitution, drop-recreate,
    mirroring /root/reference/src/loader/model_executor.py:32-110), then
    read the resulting catalog back and emit (layer, table_name,
    n_columns) per created table. Catalog metadata only - no data moves;
    the external LOCATIONs point at per-run scratch."""
    from ..sources.ddl import LAYERS, execute_ddl_scripts

    out = scratch_dir("s9", sf_dir)
    execute_ddl_scripts(spark, {"OUT_DIR": out}, recreate=True)

    rows = []
    for layer in LAYERS:
        for tbl in spark.catalog.listTables(layer):
            # listTables(db) also returns session TEMP views (e.g. the
            # streaming memory sinks when the driver runs the full query
            # set in one session) - only the layer's own tables count.
            if tbl.isTemporary:
                continue
            n_cols = len(spark.table(f"{layer}.{tbl.name}").columns)
            rows.append((layer, tbl.name, n_cols))
    return (steps_frame(
        spark, rows, "layer string, table_name string, n_columns bigint")
        .orderBy("layer", "table_name"))


_VERSIONED_ORACLE = """
WITH v1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders
            WHERE o_orderdate < DATE '1995-01-01'),
v2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders),
v9 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders
       WHERE o_orderkey < 1000),
vin AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders
        WHERE o_orderkey IN (1, 2, 3)),
vp AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders
       WHERE o_orderstatus = 'F')
SELECT s.step, s.value
FROM v1, v2, v9, vin, vp, LATERAL (VALUES
    ('1_v1_rows', v1.c),
    ('2_v2_rows', v2.c),
    ('3_latest_version', CAST(3 AS BIGINT)),
    ('4_asof_v1_rows', v1.c),
    ('5_rows_added_v1_to_v2', v2.c - v1.c),
    ('6_vacuum_removed', CAST(2 AS BIGINT)),
    ('7_latest_rows_after_vacuum', v2.c),
    ('8_v1_survives_vacuum', CAST(0 AS BIGINT)),
    ('9_pruned_read_rows', v9.c),
    ('9b_prune_skips_files', CAST(1 AS BIGINT)),
    ('9c_inlist_read_rows', vin.c),
    ('9d_inlist_skips_files', CAST(1 AS BIGINT)),
    ('9e_partition_prune_rows', vp.c),
    ('9f_partition_prune_skips_files', CAST(1 AS BIGINT))) s(step, value)
ORDER BY s.step
"""


@register("versioned_time_travel", oracle=_VERSIONED_ORACLE)
def versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + time travel as a driver row (VERDICT r6 #4;
    sources/versioned.py was pytest-only). Two commits of the orders
    table - v1 = pre-1995 orders, v2 = all orders - then the invariants
    a versioned lakehouse table must uphold, each computed by RUNNING
    the layer:
      * as-of read: version 1 resolved AFTER v2 committed still returns
        exactly v1's rows (immutable snapshot directories);
      * diff: an anti-join of read_version(2) against read_version(1)
        on the key finds exactly the rows v2 added - 'what changed
        between runs' as one time-travel query, no CDC log needed;
      * vacuum keep_last=1 removes exactly v1, the latest read is
        untouched, and the vacuumed version is gone (read raises);
      * (r12) DATA SKIPPING: v2 commits key-range-clustered with
        add-action stats on o_orderkey; a selective key-range read
        through read_version(prune=...) returns exactly the filtered
        rows AND its manifest-level survivor set is a strict subset of
        the snapshot's files - Delta's stats shape, the reference's
        b-tree analogue (SURVEY SS4.1), asserted inside the row;
      * (r13) IN-LIST point lookup: prune=("o_orderkey", "in", [...])
        reads exactly the member rows while the manifest drops every
        file whose key range holds no member (VERDICT r12 #4);
      * (r14) PARTITION-VALUE stats (VERDICT r13 #3): v3 commits
        partitioned by o_orderstatus; the key=value path segments land
        as min=max manifest entries (Delta's partitionValues), and an
        equality read on the partition key keeps ONLY the matching
        partition's files - asserted as a strict survivor subset whose
        every member lives under the o_orderstatus=F/ segment.
    The oracle states every value from the input alone via the same
    cutoff predicate. The reference analogue is re-running its loader
    against a mutated source
    (/root/reference/src/loader/bronze_loader.py:143-188), which
    overwrites history - this layer is what makes 'the table as of the
    previous run' a readable artifact instead."""
    from ..catalog import load_table
    from ..sources import fsio
    from ..sources.versioned import (
        latest_version,
        pruned_files,
        read_version,
        vacuum_versions,
        write_version,
    )

    root = os.path.join(scratch_dir("versioned", sf_dir), "orders")
    shutil.rmtree(os.path.dirname(root), ignore_errors=True)

    orders = load_table(spark, sf_dir, "orders")
    v1_df = orders.where(F.col("o_orderdate") < F.lit("1995-01-01"))
    write_version(v1_df, root)
    # v2 lands key-range-clustered with add-action stats: each file
    # holds a disjoint o_orderkey interval, so a selective key read
    # can drop files from the manifest alone (data skipping)
    write_version(orders.repartitionByRange(4, "o_orderkey"), root,
                  stats_columns=["o_orderkey"])

    v1_rows = read_version(spark, root, 1).count()
    v2_rows = read_version(spark, root, 2).count()
    latest = latest_version(root)
    asof_v1 = read_version(spark, root, 1).count()     # after v2 landed
    added = (read_version(spark, root, 2)
             .join(read_version(spark, root, 1).select("o_orderkey"),
                   "o_orderkey", "left_anti")
             .count())
    pred = ("o_orderkey", "<", 1000)
    pruned_rows = read_version(spark, root, 2, prune=pred).count()
    # (r13) IN-list point lookup: the most common selective read after
    # equality - low member keys land in one key-range file, so the
    # manifest drops the other three without opening them
    in_pred = ("o_orderkey", "in", [1, 2, 3])
    inlist_rows = read_version(spark, root, 2, prune=in_pred).count()
    man = fsio.read_json(os.path.join(root, "_versions",
                                      "v00000002.json"))
    kept, total = pruned_files(man, [pred])
    kept_in, _ = pruned_files(man, [in_pred])
    # (r14, VERDICT r13 #3) PARTITION-VALUE stats: v3 lands partitioned
    # by o_orderstatus with the partition key in stats_columns - its
    # key=value path segments become min=max manifest entries
    # (Delta's partitionValues), so an equality read on the partition
    # key drops every other partition's files DRIVER-SIDE (asserted:
    # survivors are a strict subset living only under the matching
    # key=value segment) and returns exactly the filtered rows.
    write_version(orders, root, partition_by=["o_orderstatus"],
                  stats_columns=["o_orderkey", "o_orderstatus"])
    latest = latest_version(root)
    p_pred = ("o_orderstatus", "=", "F")
    part_rows = read_version(spark, root, 3, prune=p_pred).count()
    man3 = fsio.read_json(os.path.join(root, "_versions",
                                       "v00000003.json"))
    kept_p, total_p = pruned_files(man3, [p_pred])
    part_skips = int(0 < len(kept_p) < total_p
                     and all(r.startswith("o_orderstatus=F/")
                             for r in kept_p))
    removed = vacuum_versions(root, keep_last=1)
    latest_after = read_version(spark, root).count()
    try:
        read_version(spark, root, 1)
        v1_survives = 1
    except FileNotFoundError:
        v1_survives = 0

    steps = [
        ("1_v1_rows", int(v1_rows)),
        ("2_v2_rows", int(v2_rows)),
        ("3_latest_version", int(latest)),
        ("4_asof_v1_rows", int(asof_v1)),
        ("5_rows_added_v1_to_v2", int(added)),
        ("6_vacuum_removed", len(removed)),
        ("7_latest_rows_after_vacuum", int(latest_after)),
        ("8_v1_survives_vacuum", v1_survives),
        ("9_pruned_read_rows", int(pruned_rows)),
        ("9b_prune_skips_files", int(0 < len(kept) < total)),
        ("9c_inlist_read_rows", int(inlist_rows)),
        ("9d_inlist_skips_files", int(0 < len(kept_in) < total)),
        ("9e_partition_prune_rows", int(part_rows)),
        ("9f_partition_prune_skips_files", part_skips),
    ]
    return (steps_frame(spark, steps, "step string, value bigint")
            .orderBy("step"))


_VSINK_ORACLE = """
WITH k AS (SELECT CAST(COUNT(DISTINCT user_id % 3) AS DOUBLE) AS nv,
                  CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS nk,
                  CAST(COUNT(*) AS DOUBLE) AS ne
           FROM events)
SELECT s.step, s.value
FROM k, LATERAL (VALUES
    ('1_n_versions', k.nv),
    ('2_final_keys', k.nk),
    ('3_final_events', k.ne),
    ('4_value_mismatch_keys', CAST(0 AS DOUBLE)),
    ('5_early_row_mismatches', CAST(0 AS DOUBLE)),
    ('5b_delta_rows_written', k.nk),
    ('5c_compacted_version', k.nv + 1),
    ('6_vacuum_removed', k.nv),
    ('7_keys_after_vacuum', k.nk)) s(step, value)
ORDER BY s.step
"""


@register("versioned_stream_sink", oracle=_VSINK_ORACLE)
def versioned_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E48 as a driver row (VERDICT r8 #5): a REAL Structured Streaming
    query (readStream -> update-mode running aggregation ->
    foreachBatch) whose every micro-batch CAS-commits a new snapshot of
    the target table through streaming/versioned_sink.py - the
    time-travelling materialized view. The input is staged as one
    parquet file per user_id%3 residue class (disjoint key sets, so
    every invariant below is batch-ORDER-free - the file source's batch
    order is not contractual) and maxFilesPerTrigger=1 makes each class
    one micro-batch:

      * one version per NON-EMPTY class (empty batches burn no
        version);
      * the latest version equals the batch aggregation over all input
        (keys, row counts, and per-key decimal-exact value sums);
      * every key's row in EVERY intermediate version already carries
        its final value (disjoint upserts: state lands once) - the
        as-of-batch-v read is a consistent running state, never torn;
      * vacuum keep_last=2 removes exactly n_versions-2 snapshots and
        the surviving latest read is untouched.

    The oracle states every value from the input alone. Reference
    analogue: per-run ON CONFLICT upserts in
    /root/reference/src/loader/bronze_loader.py:143-188 - which
    overwrite history; this row is what makes each run's state a
    readable artifact."""
    from ..catalog import load_table
    from ..sources.versioned import (compact_latest, list_versions,
                                     read_version, vacuum_versions)
    from ..streaming.versioned_sink import run_to_versioned_sink
    from .parity import dsum

    scratch = scratch_dir("vsink", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    in_dir = os.path.join(scratch, "in")
    os.makedirs(in_dir)

    events = (load_table(spark, sf_dir, "events")
              .select("user_id", "value"))
    # One file per residue class: classes are disjoint in user_id, so
    # every checked invariant is independent of the source's batch
    # ordering (which Spark does not contract). ONE events scan stages
    # all three classes (repartition-by-class routes each class to
    # exactly one task, partitionBy splits the directories -> one file
    # per non-empty class); the per-class filter x3 this replaces paid
    # three full scans for the same three files.
    stage = os.path.join(scratch, "stage")
    (events.withColumn("cls", F.pmod("user_id", F.lit(3)))
     .repartition(3, "cls")
     .write.partitionBy("cls").parquet(stage))
    for r in range(3):
        cdir = os.path.join(stage, f"cls={r}")
        if not os.path.isdir(cdir):
            continue                       # empty class: no batch
        parts = [f for f in sorted(os.listdir(cdir))
                 if f.endswith(".parquet") and not f.startswith(("_", "."))]
        assert len(parts) == 1, parts      # one routing task per class
        os.rename(os.path.join(cdir, parts[0]),
                  os.path.join(in_dir, f"class{r}.parquet"))
    shutil.rmtree(stage, ignore_errors=True)

    stream = (spark.readStream
              .schema("user_id bigint, value double")
              .option("maxFilesPerTrigger", 1)
              .parquet(in_dir))
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"))
    root = os.path.join(scratch, "table")
    # State/shuffle partitions for THIS streaming query are sized from
    # its input bytes (ceil(bytes / 128 MB), the guide SS2.2 partition
    # target), not left at the session's 32: a streaming aggregation's
    # state store materializes one set of state+delta files PER
    # PARTITION PER TRIGGER, and every micro-batch's delta snapshot
    # inherits the same fan-out - at harness volume (~1 MB input,
    # ~1.5k keys) the fixed 32 wrote 32 sliver state files + 32 sliver
    # parquet files per trigger, and every downstream chain read paid
    # the per-file open cost 32x. The derivation scales: a 100 TB/day
    # feed sizes to ~800k partitions-worth of bytes and is then capped
    # by cluster parallelism upstream - never a constant tuned to
    # either environment. (The conf is restored right after the run;
    # Structured Streaming pins the partition count into the
    # checkpoint at first start, so the query stays consistent.)
    in_bytes = sum(os.path.getsize(os.path.join(in_dir, f))
                   for f in os.listdir(in_dir))
    with scoped_conf(spark, "spark.sql.shuffle.partitions",
                     str(max(1, -(-in_bytes // (128 << 20))))):
        final = run_to_versioned_sink(agg, root,
                                      os.path.join(scratch, "ckpt"),
                                      keys=["user_id"],
                                      output_mode="update")
    final = final.localCheckpoint()           # pin: versions get vacuumed

    versions = list_versions(root)
    n_versions = len(versions)
    truth = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("t_n"), dsum("value", "t_v"))
    # ONE job states the final-table stats AND the truth comparison
    # (r14 - previously two actions over the same checkpointed `final`):
    # keys are unique on both sides of the full-outer join, so each
    # final row appears exactly once and sum(_f)/sum(n_events) equal
    # the plain aggregates over `final`.
    fstats = (final.withColumn("_f", F.lit(1))
              .join(truth, "user_id", "full_outer")
              .agg(F.sum("_f").alias("k"),
                   F.sum("n_events").alias("e"),
                   F.sum(F.when((F.col("n_events") != F.col("t_n"))
                                | F.col("n_events").isNull()
                                | F.col("t_n").isNull()
                                | (F.col("total_value") != F.col("t_v")),
                                1).otherwise(0)).alias("mm"))
              .first())
    final_keys = int(fstats["k"] or 0)
    final_events = int(fstats["e"] or 0)
    value_mismatch_keys = int(fstats["mm"] or 0)
    # Disjoint upserts => every intermediate version's rows already
    # carry their final values. One job states it for ALL versions:
    # the union's mismatch count equals the per-version loop's sum
    # (each version's rows are distinct rows of the union).
    early_mismatches = 0
    if versions:
        every = read_version(spark, root, versions[0])
        for v in versions[1:]:
            every = every.unionByName(read_version(spark, root, v))
        early_mismatches = (
            every
            .join(final.select("user_id",
                               F.col("n_events").alias("f_n"),
                               F.col("total_value").alias("f_v")),
                  "user_id", "left_outer")
            .where((F.col("n_events") != F.col("f_n"))
                   | F.col("f_n").isNull()
                   | (F.col("total_value") != F.col("f_v")))
            .count())
    # r14 (VERDICT r13 #2): the sink commits DIFFERENTIAL deltas by
    # default - the raw rows staged across all versions equal the
    # distinct-key total (classes are disjoint, each key lands once),
    # the in-row statement that per-batch writes scale with |batch|,
    # not |table| (the rewrite mode wrote the cumulative state each
    # trigger). compact_latest then folds the chain into one full
    # snapshot (version nv+1) and vacuum keep_last=1 reclaims every
    # delta - the read after is untouched.
    # One multi-path scan counts every staged delta row (r14: the
    # per-version read+count loop paid one job latency per version
    # for the same total).
    delta_rows_written = spark.read.parquet(
        *[os.path.join(root, f"v{v:08d}") for v in versions]).count() \
        if versions else 0
    compacted_v = compact_latest(spark, root)
    removed = vacuum_versions(root, keep_last=1)
    keys_after = read_version(spark, root).count()

    steps = [
        ("1_n_versions", float(n_versions)),
        ("2_final_keys", float(final_keys)),
        ("3_final_events", float(final_events)),
        ("4_value_mismatch_keys", float(value_mismatch_keys)),
        ("5_early_row_mismatches", float(early_mismatches)),
        ("5b_delta_rows_written", float(delta_rows_written)),
        ("5c_compacted_version", float(compacted_v)),
        ("6_vacuum_removed", float(len(removed))),
        ("7_keys_after_vacuum", float(keys_after)),
    ]
    return (steps_frame(spark, steps, "step string, value double")
            .orderBy("step"))


_TXN_ORACLE = """
WITH o1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders
            WHERE o_orderdate < DATE '1995-01-01'),
l1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem
       WHERE l_shipdate < DATE '1995-01-01'),
o2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders),
l2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem)
SELECT s.step, s.value
FROM o1, l1, o2, l2, LATERAL (VALUES
    ('1_t1_orders_rows', o1.c),
    ('2_t1_lineitem_rows', l1.c),
    ('3_latest_txn_after_unpinned_write', CAST(1 AS BIGINT)),
    ('4_orders_rows_visible_after_unpinned', o1.c),
    ('5_unpinned_orphan_versions', CAST(1 AS BIGINT)),
    ('6_latest_txn', CAST(2 AS BIGINT)),
    ('7_t2_orders_rows', o2.c),
    ('8_t2_lineitem_rows', l2.c),
    ('9_asof_t1_orders_rows', o1.c),
    ('A_orphans_after_pin', CAST(0 AS BIGINT))) s(step, value)
ORDER BY s.step
"""


@register("txn_multi_table", oracle=_TXN_ORACLE)
def txn_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E50 as a driver row (sources/transactions.py): multi-table
    transactions over versioned tables, run end-to-end and reduced to
    input-derivable invariants:

      * txn 1 pins a consistent two-table state (pre-1995 orders +
        pre-1995-shipdate lineitem);
      * a per-table version committed WITHOUT a pin (all orders as
        orders@v2) is durable but INVISIBLE to transactional readers -
        the latest snapshot still serves txn 1's orders rows, and the
        orphan enumerator names exactly that one unpinned version
        (write-then-pin atomicity, the crash-at-step-1 shape);
      * txn 2 pins (orders@v2, lineitem@v2) and BOTH tables flip at
        once; the as-of read of txn 1 still returns the old orders
        count (cross-table time travel); no orphans remain.

    Every value is stated by the oracle from the input alone. The
    reference loads its bronze/silver/gold tables in separate
    autocommitted writes (/root/reference/src/loader/*.py) - a reader
    between two of them sees a torn cross-table state; this layer is
    the atomic multi-table cut."""
    from ..catalog import load_table
    from ..sources.transactions import (commit_txn, latest_txn,
                                        read_txn_snapshot,
                                        unpinned_table_versions)
    from ..sources.versioned import write_version

    root = scratch_dir("txn", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    o_pre = orders.where(F.col("o_orderdate") < F.lit("1995-01-01"))
    l_pre = lineitem.where(F.col("l_shipdate") < F.lit("1995-01-01"))

    ov1 = write_version(o_pre, os.path.join(root, "orders"))
    lv1 = write_version(l_pre, os.path.join(root, "lineitem"))
    t1 = commit_txn(root, {"orders": ov1, "lineitem": lv1}, 0)

    snap1 = read_txn_snapshot(spark, root)
    t1_orders = snap1["orders"].count()
    t1_lineitem = snap1["lineitem"].count()

    # durable-but-unpinned per-table write (the crash-at-step-1 shape)
    ov2 = write_version(orders, os.path.join(root, "orders"))
    latest_after_unpinned = latest_txn(root)
    visible_orders = read_txn_snapshot(spark, root)["orders"].count()
    orphans = unpinned_table_versions(root)
    n_orphans = sum(len(v) for v in orphans.values())

    lv2 = write_version(lineitem, os.path.join(root, "lineitem"))
    t2 = commit_txn(root, {"orders": ov2, "lineitem": lv2}, t1)
    snap2 = read_txn_snapshot(spark, root)
    t2_orders = snap2["orders"].count()
    t2_lineitem = snap2["lineitem"].count()
    asof_t1_orders = read_txn_snapshot(spark, root,
                                       txn=t1)["orders"].count()
    orphans_after = sum(len(v) for v in
                        unpinned_table_versions(root).values())

    steps = [
        ("1_t1_orders_rows", int(t1_orders)),
        ("2_t1_lineitem_rows", int(t1_lineitem)),
        ("3_latest_txn_after_unpinned_write", int(latest_after_unpinned)),
        ("4_orders_rows_visible_after_unpinned", int(visible_orders)),
        ("5_unpinned_orphan_versions", int(n_orphans)),
        ("6_latest_txn", int(t2)),
        ("7_t2_orders_rows", int(t2_orders)),
        ("8_t2_lineitem_rows", int(t2_lineitem)),
        ("9_asof_t1_orders_rows", int(asof_t1_orders)),
        ("A_orphans_after_pin", int(orphans_after)),
    ]
    return (steps_frame(spark, steps, "step string, value bigint")
            .orderBy("step"))


_ZORDER_ORACLE = """
WITH b AS (
    SELECT MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax,
           MIN(o_orderdate) AS dmin, MAX(o_orderdate) AS dmax
    FROM orders
),
cut AS (
    SELECT cmin AS clo,
           cmin + (cmax - cmin) // 10 AS chi,
           dmin + CAST(date_diff('day', dmin, dmax) // 10 AS BIGINT)
               * INTERVAL 1 DAY AS dcut
    FROM b
),
kb AS (
    SELECT MIN(o_orderkey) AS kmin, MAX(o_orderkey) AS kmax FROM orders
),
kcut AS (
    SELECT printf('ok-%010d', kmin) AS klo,
           printf('ok-%010d', kmin + (kmax - kmin) // 10) AS khi
    FROM kb
),
m AS (
    SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders, cut
         WHERE o_custkey BETWEEN clo AND chi) AS ckey_rows,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders, cut
         WHERE o_orderdate < dcut) AS date_rows,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders, cut
         WHERE o_custkey BETWEEN clo AND chi
           AND o_orderdate < dcut) AS conj_rows,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders, kcut
         WHERE printf('ok-%010d', o_orderkey)
               BETWEEN klo AND khi) AS text_rows
)
SELECT s.step, s.value
FROM m, LATERAL (VALUES
    ('1_custkey_range_rows', ckey_rows),
    ('1b_custkey_skips_files', CAST(1 AS BIGINT)),
    ('2_date_range_rows', date_rows),
    ('2b_date_skips_files', CAST(1 AS BIGINT)),
    ('3_conjunction_rows', conj_rows),
    ('3b_conjunction_skips_files', CAST(1 AS BIGINT)),
    ('4_text_key_range_rows', text_rows),
    ('4b_text_key_skips_files', CAST(1 AS BIGINT))) s(step, value)
ORDER BY s.step
"""


@register("zorder_multi_skip", oracle=_ZORDER_ORACLE)
def zorder_multi_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering x manifest data skipping (r12, the
    multi-column completion of VERDICT r11 #3): orders rewritten
    z-ordered on (o_custkey, o_orderdate) into a versioned table with
    add-action stats on BOTH columns, then three selective reads
    through read_version(prune=...) - a customer-key range, a date
    range, and their conjunction. A linear sort serves only its
    leading column; the Morton layout bounds EVERY clustered column's
    per-file spread, so each predicate's survivor set must be a strict
    subset of the snapshot's files (the *_skips_files steps assert it
    in-row; tests/test_zorder.py pins the linear-sort contrast). Row
    counts are oracle-stated from the input alone via the identical
    min/max-derived cutoffs - integer and whole-day arithmetic, no
    float seams."""
    from ..catalog import load_table
    from ..operators.zorder import write_version_zordered
    from ..sources import fsio
    from ..sources.versioned import pruned_files, read_version

    root = os.path.join(scratch_dir("zorder", sf_dir), "orders")
    shutil.rmtree(os.path.dirname(root), ignore_errors=True)

    orders = load_table(spark, sf_dir, "orders")
    write_version_zordered(orders, root,
                           ["o_custkey", "o_orderdate"], num_files=16)

    b = orders.agg(F.min("o_custkey").alias("cmin"),
                   F.max("o_custkey").alias("cmax"),
                   F.min("o_orderdate").alias("dmin"),
                   F.max("o_orderdate").alias("dmax")).first()
    clo = int(b["cmin"])
    chi = clo + (int(b["cmax"]) - clo) // 10
    dcut = b["dmin"] + __import__("datetime").timedelta(
        days=(b["dmax"] - b["dmin"]).days // 10)

    man = fsio.read_json(os.path.join(root, "_versions",
                                      "v00000001.json"))
    preds = {
        "1": [("o_custkey", "between", (clo, chi))],
        "2": [("o_orderdate", "<", dcut)],
        "3": [("o_custkey", "between", (clo, chi)),
              ("o_orderdate", "<", dcut)],
    }
    steps = []
    for key, plist in sorted(preds.items()):
        rows = read_version(spark, root, prune=plist).count()
        kept, total = pruned_files(man, plist)
        steps.append((f"{key}_{'custkey_range' if key == '1' else 'date_range' if key == '2' else 'conjunction'}_rows",
                      int(rows)))
        steps.append((f"{key}b_{'custkey' if key == '1' else 'date' if key == '2' else 'conjunction'}_skips_files",
                      int(0 < len(kept) < total)))

    # r13: the TEXT-key path (the reference's natural PK is id TEXT) -
    # a zero-padded order-key string z-orders through sampled
    # lexicographic boundary cells and must prune files just like a
    # numeric key.
    troot = os.path.join(os.path.dirname(root), "orders_text")
    write_version_zordered(
        orders.withColumn("ok_text",
                          F.format_string("ok-%010d", F.col("o_orderkey"))),
        troot, ["ok_text", "o_custkey"], num_files=16)
    kb = orders.agg(F.min("o_orderkey").alias("kmin"),
                    F.max("o_orderkey").alias("kmax")).first()
    kmin, kmax = int(kb["kmin"]), int(kb["kmax"])
    klo = f"ok-{kmin:010d}"
    khi = f"ok-{kmin + (kmax - kmin) // 10:010d}"
    tman = fsio.read_json(os.path.join(troot, "_versions",
                                       "v00000001.json"))
    tpred = [("ok_text", "between", (klo, khi))]
    trows = read_version(spark, troot, prune=tpred).count()
    tkept, ttotal = pruned_files(tman, tpred)
    steps.append(("4_text_key_range_rows", int(trows)))
    steps.append(("4b_text_key_skips_files", int(0 < len(tkept) < ttotal)))
    return (steps_frame(spark, steps, "step string, value bigint")
            .orderBy("step"))
