"""The harness testdata has shipped `events.ts` under two physical
storages across generations: INT64 epoch-nanos and native timestamp[us].
Round 3's regeneration flipped nanos -> timestamp[us] and silently broke
every streaming query (the stream schema hardcoded the nanos assumption,
compressing the timeline 1000x). These tests pin BOTH generations for
both read paths — batch (catalog.load_table) and streaming
(streaming.windows.read_events_stream) — so the next flip fails loudly
in pytest instead of in the driver's correctness run.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_pipeline_mini_project_01_spark.catalog import (
    CANONICAL_SCHEMAS,
    _footer_schema,
    load_table,
)
from etl_pipeline_mini_project_01_spark.streaming.windows import (
    read_events_stream,
    run_to_completion,
)

_ROWS = [
    (0, datetime.datetime(2024, 1, 1, 0, 9, 58, 778549), 13, "click", 1.5, "{}"),
    (1, datetime.datetime(2024, 1, 15, 12, 0, 0, 5), 7, "view", None, "{}"),
    (2, datetime.datetime(2024, 1, 30, 23, 59, 59, 999999), 13, "error", 2.0, "{}"),
]
_EXPECTED_TS = [r[1] for r in _ROWS]


def _write_events(dirname: str, ts_storage: str) -> str:
    """Write a tiny events.parquet with ts stored per `ts_storage`."""
    os.makedirs(dirname, exist_ok=True)
    cols = list(zip(*_ROWS))
    if ts_storage == "int64_nanos":
        ts_arr = pa.array(
            [int(t.timestamp() * 1_000_000) * 1000 for t in cols[1]],
            type=pa.int64(),
        )
    elif ts_storage == "timestamp_ns":  # INT64 TIMESTAMP(NANOS)
        ts_arr = pa.array(cols[1], type=pa.timestamp("ns"))
    elif ts_storage == "timestamp_us":
        ts_arr = pa.array(cols[1], type=pa.timestamp("us"))
    else:
        raise ValueError(ts_storage)
    table = pa.table(
        {
            "event_id": pa.array(cols[0], type=pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array(cols[2], type=pa.int64()),
            "event_type": pa.array(cols[3], type=pa.string()),
            "value": pa.array(cols[4], type=pa.float64()),
            "props": pa.array(cols[5], type=pa.string()),
        }
    )
    pq.write_table(table, os.path.join(dirname, "events.parquet"))
    return dirname


@pytest.mark.parametrize("storage", ["int64_nanos", "timestamp_us"])
def test_batch_loader_normalizes_both_generations(spark, tmp_path, storage):
    sf_dir = _write_events(str(tmp_path / storage), storage)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"].startswith("timestamp")
    got = [r.ts for r in df.orderBy("event_id").collect()]
    assert got == _EXPECTED_TS


@pytest.mark.parametrize("storage",
                         ["int64_nanos", "timestamp_ns", "timestamp_us"])
def test_footer_schema_normalizes_to_canonical(spark, tmp_path, storage):
    """The loader's footer schema is the one Spark infers for every
    storage (nanos timestamps read as bigint), and normalization then
    lands each on the canonical events schema."""
    sf_dir = _write_events(str(tmp_path / storage), storage)
    path = os.path.join(sf_dir, "events.parquet")
    assert _footer_schema(path) == spark.read.parquet(path).schema
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes) == CANONICAL_SCHEMAS["events"]
    assert [r.ts for r in df.orderBy("event_id").collect()] == _EXPECTED_TS


@pytest.mark.parametrize("storage", ["int64_nanos", "timestamp_us"])
def test_stream_reader_normalizes_both_generations(spark, tmp_path, storage):
    sf_dir = _write_events(str(tmp_path / storage), storage)
    stream = read_events_stream(spark, sf_dir)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    out = run_to_completion(
        stream.select("event_id", "ts"),
        f"ts_gen_{storage}",
        output_mode="append",
    )
    got = [r.ts for r in out.orderBy("event_id").collect()]
    # LTZ under the pinned UTC session: same wall-clock instants.
    assert [t.replace(tzinfo=None) for t in got] == _EXPECTED_TS
