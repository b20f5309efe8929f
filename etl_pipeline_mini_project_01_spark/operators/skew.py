"""Skew-handling operators: salting for hot keys (north-star scale item).

A groupBy on a skewed key puts one reducer in the critical path; the salt
rewrite aggregates in two phases - (key, salt) partials spread the hot key
over `salt_buckets` tasks, then a cheap final merge on the key. AQE's
skew-join splitting covers joins; this covers aggregations, where Spark
has no automatic rewrite (partial aggregation helps only until the
map-side hash fills).

Correctness: restricted to decomposable aggregates (sum/count/min/max,
and avg via sum+count) so phase-2 merge is exact; decimal sums keep float
results order-insensitive, matching this engine's oracle-parity contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_sum_count(df: DataFrame, key: str, value_col: str,
                     salt_buckets: int = 8,
                     dec: str = "decimal(18,4)") -> DataFrame:
    """Two-phase skew-safe aggregate: per-key count + decimal-exact sum
    (+ avg), salted over `salt_buckets` partial groups.

    The salt must vary WITHIN a key, or the hot key still lands in one
    partial group and the rewrite silently does nothing (the original
    crc32(key) salt had exactly that defect - constant per key). The
    input partition id is the right per-row source: each task's
    partials are map-LOCAL (one partial per key per task), the salt is
    deterministic for a fixed input layout, and the final merge stays
    exact regardless of how rows were split (decomposable aggregates +
    decimal sums - results are bit-identical to the direct groupBy).

    Output: key, n, total (double), avg_value (double).
    """
    salt = F.pmod(F.spark_partition_id(), F.lit(salt_buckets)).alias("__salt")
    partial = (
        df.groupBy(F.col(key), salt)
        .agg(F.count(F.lit(1)).alias("__n"),
             F.sum(F.col(value_col).cast(dec)).alias("__s"))
    )
    return (
        partial.groupBy(key)
        .agg(F.sum("__n").alias("n"),
             F.sum("__s").cast("double").alias("total"))
        .withColumn("avg_value", F.col("total") / F.col("n"))
    )
