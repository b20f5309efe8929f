"""Driver rows for the source/sink resilience surface (SURVEY §2.1
S2/S4/S10) - the last components verified only by pytest after round 3
("4 pytest-only": S2 retry wrapper, S4 CSV fallback sink, S10 dynamic
DDL; VERDICT r3 coverage table). Each follows the s9_ddl_catalog
pattern: exercise the REAL machinery (sources/resilience.py,
sources/io.py), then emit a relation whose oracle is either an
independent SQL recomputation (S4's roundtrip) or the literal contract
the machinery must honor (S2's backoff schedule, S10's DDL text).

Reference parity: S2 mirrors the tenacity retry policy at
/root/reference/src/extractor/hashtag_data_extractor.py:49-58 (3
attempts, exponential 2-10 s backoff); S4 the CSV fallback sink at
/root/reference/src/main.py:127-129; S10 the dtype-map DDL generator at
/root/reference/src/loader/hashtag_data_loader.py:94-136.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import scratch_dir
from .registry import register

# ---------------------------------------------------------------------------
# S2: retry/backoff wrapper as a driver row
# ---------------------------------------------------------------------------

#: The oracle literals ARE the retry contract (3 attempts, exponential
#: 2 s/4 s backoff before the 2nd/3rd tries) - plus the final attempt's
#: rows_read recomputed from the table, proving the wrapped read really
#: ran against the harness data after two injected failures.
_S2_ORACLE = """
SELECT s.attempt, s.backoff_sec, s.outcome, s.rows_read
FROM (VALUES
    (CAST(1 AS BIGINT), CAST(2.0 AS DOUBLE), 'failed_retrying',
     CAST(NULL AS BIGINT)),
    (CAST(2 AS BIGINT), CAST(4.0 AS DOUBLE), 'failed_retrying',
     CAST(NULL AS BIGINT)),
    (CAST(3 AS BIGINT), CAST(NULL AS DOUBLE), 'succeeded',
     (SELECT COUNT(*) FROM region))) s(attempt, backoff_sec, outcome,
                                       rows_read)
ORDER BY s.attempt
"""


@register("s2_retry_backoff", oracle=_S2_ORACLE)
def s2_retry_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 as a driver row: run a region-count read through
    :func:`with_retry` with two injected transient failures, capturing
    the backoff schedule through the injected sleep (no wall-clock
    sleeping). One row per attempt: the delay the wrapper ASKED for
    before the next try, the outcome, and - on the attempt that
    succeeded - the row count the wrapped read returned."""
    from ..sources.resilience import with_retry

    delays: list[float] = []
    state = {"calls": 0}

    def flaky_read() -> int:
        state["calls"] += 1
        if state["calls"] < 3:
            raise RuntimeError("injected transient source failure")
        return load_table(spark, sf_dir, "region").count()

    rows_read = with_retry(flaky_read, attempts=3, sleep=delays.append)

    rows = []
    for attempt in range(1, state["calls"] + 1):
        last = attempt == state["calls"]
        rows.append((
            attempt,
            None if last else delays[attempt - 1],
            "succeeded" if last else "failed_retrying",
            rows_read if last else None))
    return (spark.createDataFrame(
        rows, "attempt bigint, backoff_sec double, outcome string, "
              "rows_read bigint")
        .orderBy("attempt"))


# ---------------------------------------------------------------------------
# S4: CSV fallback sink roundtrip
# ---------------------------------------------------------------------------

_S4_ORACLE = """
SELECT n_regionkey,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       MIN(n_name) AS first_nation
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


@register("s4_csv_fallback_roundtrip", oracle=_S4_ORACLE)
def s4_csv_fallback_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 as a driver row: aggregate nation per region, write it through
    the CSV fallback sink (sources/io.py write_csv_fallback - header,
    overwrite), read the CSV back with an explicit schema, and return
    the read-back rows. The oracle recomputes the aggregate straight
    from the parquet, so a sink that drops rows, mangles the header, or
    loses type fidelity through the text roundtrip hash-mismatches.
    Per-run scratch dir, catalog-free (same isolation as s9)."""
    from ..sources.io import write_csv_fallback

    out = os.path.join(scratch_dir("s4", sf_dir), "nation_by_region")

    agg = (load_table(spark, sf_dir, "nation")
           .groupBy("n_regionkey")
           .agg(F.count(F.lit(1)).alias("n_nations"),
                F.min("n_name").alias("first_nation")))
    write_csv_fallback(agg, out)
    return (spark.read
            .option("header", True)
            .schema("n_regionkey int, n_nations bigint, first_nation string")
            .csv(out)
            .orderBy("n_regionkey"))


# ---------------------------------------------------------------------------
# S10: dynamic DDL from schema
# ---------------------------------------------------------------------------

#: The oracle literals ARE the generator's contract: exact CREATE TABLE
#: text (backticked columns, upper-cased simpleString types, parquet
#: USING clause) for four representative tables, including the
#: array<float> embedding column. A schema_to_ddl formatting change -
#: or a catalog schema drift - fails this row loudly.
_S10_ORACLE = """
SELECT s.table_name, s.ddl
FROM (VALUES
    ('region', 'CREATE TABLE IF NOT EXISTS lake.region (
  `r_regionkey` INT,
  `r_name` STRING
) USING parquet'),
    ('nation', 'CREATE TABLE IF NOT EXISTS lake.nation (
  `n_nationkey` INT,
  `n_name` STRING,
  `n_regionkey` INT
) USING parquet'),
    ('documents', 'CREATE TABLE IF NOT EXISTS lake.documents (
  `doc_id` BIGINT,
  `text` STRING,
  `lang` STRING,
  `source` STRING,
  `n_chars` BIGINT
) USING parquet'),
    ('embeddings', 'CREATE TABLE IF NOT EXISTS lake.embeddings (
  `vec_id` BIGINT,
  `embedding` ARRAY<FLOAT>,
  `label` INT
) USING parquet')) s(table_name, ddl)
ORDER BY s.table_name
"""


@register("s10_dynamic_ddl", oracle=_S10_ORACLE)
def s10_dynamic_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 as a driver row: generate CREATE TABLE DDL from the loaded
    frames' schemas (sources/resilience.py schema_to_ddl - the engine's
    version of the reference's Polars-dtype->PG-type map) for four
    representative tables and emit (table_name, ddl)."""
    from ..sources.resilience import schema_to_ddl

    rows = [
        (name, schema_to_ddl(load_table(spark, sf_dir, name),
                             f"lake.{name}"))
        for name in ("region", "nation", "documents", "embeddings")
    ]
    return (spark.createDataFrame(rows, "table_name string, ddl string")
            .orderBy("table_name"))
