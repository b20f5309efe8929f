"""Table catalog: explicit schemas + loaders for the harness testdata.

The reference declares every schema explicitly at each boundary
(/root/reference/src/extractor/hashtag_data_extractor.py:342-386 - 30-col
extractor schema; /root/reference/models/bronze/02_create_bronze_tables.sql:8-87
- 50-col bronze DDL). We keep that stance: the engine never relies on
inference for semantics; loaders normalize types to the canonical schema
below (notably `events.ts`, which testdata generations have shipped both
as INT64 nanos and as native timestamp[us]; the nanos form is converted
to microsecond timestamp - same truncation DuckDB applies when casting
TIMESTAMP_NS to TIMESTAMP, keeping the oracle exact).

The read schema comes from the parquet footer on the driver (pyarrow,
~1 ms), not from Spark's inference: `spark.read.parquet` with no schema
runs one inference job per call, while `spark.read.schema(s)` runs
none. The footer schema is the physical one Spark would infer - tz-naive
timestamps as timestamp_ntz, INT64 nanos as bigint - so the
normalization and the canonical check below see the same frame either
way. It is read on every call: no memo outlives a changed file.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from .session import harden
from .sources.filestats import walk_parquet

#: All tables the harness provides (one parquet each per scale-factor dir).
TABLES: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Canonical column -> Spark type (post-normalization), for validation.
CANONICAL_SCHEMAS: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {"c_custkey": "bigint", "c_name": "string", "c_nationkey": "int",
                 "c_acctbal": "double", "c_mktsegment": "string"},
    "supplier": {"s_suppkey": "bigint", "s_name": "string", "s_nationkey": "int",
                 "s_acctbal": "double"},
    "part": {"p_partkey": "bigint", "p_name": "string", "p_brand": "string",
             "p_type": "string", "p_size": "int", "p_retailprice": "double"},
    "orders": {"o_orderkey": "bigint", "o_custkey": "bigint", "o_orderstatus": "string",
               "o_totalprice": "double", "o_orderdate": "timestamp_ntz",
               "o_orderpriority": "string"},
    "lineitem": {"l_orderkey": "bigint", "l_partkey": "bigint", "l_suppkey": "bigint",
                 "l_linenumber": "int", "l_quantity": "double",
                 "l_extendedprice": "double", "l_discount": "double", "l_tax": "double",
                 "l_returnflag": "string", "l_linestatus": "string",
                 "l_shipdate": "timestamp_ntz"},
    "events": {"event_id": "bigint", "ts": "timestamp_ntz", "user_id": "bigint",
               "event_type": "string", "value": "double", "props": "string"},
    "documents": {"doc_id": "bigint", "text": "string", "lang": "string",
                  "source": "string", "n_chars": "bigint"},
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>", "label": "int"},
}

#: Columns stored as INT64 nanosecond timestamps in the harness parquet.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _footer_schema(path: str) -> StructType:
    """The Spark schema of the driver-local parquet table at `path` (a
    file, or a directory whose first visible data file speaks for it),
    read from the footer: the schema `spark.read.parquet(path)` infers,
    without its job. INT64 TIMESTAMP(NANOS) columns map to bigint, as
    Spark reads them under the nanosAsLong conf `harden` sets; INT96
    timestamps stay timestamps."""
    if os.path.isdir(path):
        path = walk_parquet(path)[0][1]
    with pq.ParquetFile(path) as pf:
        int64 = {c.path for c in pf.schema if c.physical_type == "INT64"}
        arrow = pa.schema([
            f.with_type(pa.int64())
            if (f.name in int64 and pa.types.is_timestamp(f.type)
                and f.type.unit == "ns") else f
            for f in pf.schema_arrow])
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness table, normalized to its canonical schema.

    The normalized frame is VALIDATED against CANONICAL_SCHEMAS: a
    testdata generation that drifts a column type (the events.ts
    nanos-vs-timestamp history is exactly that class) fails HERE with
    a named diff, not later as an opaque join/cast error or a silent
    oracle mismatch."""
    harden(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_footer_schema(path)).parquet(path)
    for c in _NANO_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            # int64 nanos -> micros (integer div: truncation, matches DuckDB
            # TIMESTAMP_NS -> TIMESTAMP cast) -> naive timestamp.
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
            )
    want = CANONICAL_SCHEMAS.get(name)
    if want is not None:
        got = dict(df.dtypes)
        if got != want:
            diff = {k: (want.get(k), got.get(k))
                    for k in set(want) | set(got)
                    if want.get(k) != got.get(k)}
            raise TypeError(
                f"table {name!r} at {sf_dir} does not match its canonical "
                f"schema after normalization; drifted columns "
                f"(expected, actual): {diff}")
    return df


def steps_frame(spark: SparkSession, steps: list[tuple],
                schema: str) -> DataFrame:
    """A tiny control-plane DataFrame (contract-row step ledgers and
    the like) built through pandas -> Arrow ingestion. The list-of-
    tuples createDataFrame path plans a Python-RDD scan whose single
    job measured 5-8 s REGARDLESS of row count (python worker
    round-trip); Arrow ingestion is ~0.4 s (ADVICE r9 - same reason
    commit_layout_manifest switched)."""
    import pandas as pd

    # Split on top-level commas only: "v decimal(10,2)" or
    # "a array<struct<x:int,y:int>>" must not be cut inside the type.
    cols, depth, cur = [], 0, []
    for ch in schema:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            cols.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    cols.append("".join(cur))
    cols = [c.strip().split()[0] for c in cols]
    pdf = pd.DataFrame(steps, columns=cols)
    return spark.createDataFrame(pdf, schema=schema)
