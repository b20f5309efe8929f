"""Source resilience + dynamic DDL + failure-tolerant refresh
(SURVEY §2.1 S2/S10, §2.9 M6).

S2: the reference wraps API calls in tenacity retries (3 attempts,
exponential 2-10s backoff, hashtag_data_extractor.py:49-58). Engine-side,
Spark's task retries cover executor work; this helper covers *driver-side*
source/sink calls (flaky object stores, catalogs) without a tenacity
dependency.

S10: the reference builds CREATE TABLE from a Polars-dtype map
(hashtag_data_loader.py:94-136); Spark derives DDL from df.schema.

M6: per-view failure-tolerant refresh (gold_refresh.py:56-66: one broken
view must not block the other six). The reference refreshes its views one
after another; here they are independent actions, so they run side by
side (`run_concurrently`).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Mapping
from concurrent.futures import Future, ThreadPoolExecutor
from functools import partial
from typing import Any, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def with_retry(fn: Callable[[], T], attempts: int = 3,
               base_delay: float = 2.0, max_delay: float = 10.0,
               retry_on: tuple[type[Exception], ...] = (Exception,),
               sleep: Callable[[float], None] = time.sleep) -> T:
    """S2: call `fn` with exponential backoff (2s, 4s, ... capped)."""
    last: Exception | None = None
    for attempt in range(attempts):
        try:
            return fn()
        except retry_on as exc:  # noqa: PERF203 - retry loop by design
            last = exc
            if attempt < attempts - 1:
                sleep(min(base_delay * (2 ** attempt), max_delay))
    raise last  # type: ignore[misc]


def schema_to_ddl(df: DataFrame, table: str,
                  if_not_exists: bool = True) -> str:
    """S10: dynamic CREATE TABLE from the frame's schema (the engine's
    version of the Polars-dtype->PG-type map)."""
    cols = ",\n  ".join(
        f"`{f.name}` {f.dataType.simpleString().upper()}"
        for f in df.schema.fields)
    clause = "IF NOT EXISTS " if if_not_exists else ""
    return f"CREATE TABLE {clause}{table} (\n  {cols}\n) USING parquet"


def run_concurrently(tasks: Mapping[str, Callable[[], T]]
                     ) -> dict[str, Future[T]]:
    """Run each task on its own driver thread and wait for all of them.

    Independent Spark actions submitted from separate threads share the
    session's scheduler, so a layer of tables whose writes are bound by
    per-job driver latency (planning, scheduling, commit) overlaps that
    latency instead of paying it once per table. Each task is wrapped in
    `inheritable_thread_target`, so it runs with the caller's local
    properties: job group, description, scheduler pool and SparkContext
    job tags (SparkSession tags are not carried; pyspark warns once).
    Returns the futures in `tasks` order, all done; reading a result
    re-raises that task's exception."""
    if not tasks:
        return {}
    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        return {name: pool.submit(inheritable_thread_target(fn))
                for name, fn in tasks.items()}


def refresh_views(spark: SparkSession,
                  builders: Mapping[str, Callable[[], DataFrame]],
                  writer: Callable[[str, DataFrame], None]) -> dict[str, Any]:
    """M6: refresh each materialized view independently and concurrently;
    one failure never blocks or cancels the rest (gold_refresh.py
    tolerates partial failure). Returns per-view status + timing in
    `builders` order, like the reference's refresh report."""

    def refresh(name: str, build: Callable[[], DataFrame]) -> dict[str, Any]:
        t0 = time.perf_counter()
        try:
            writer(name, build())
            return {"ok": True, "sec": round(time.perf_counter() - t0, 2)}
        except Exception as exc:  # noqa: BLE001 - tolerance by contract
            return {"ok": False, "error": str(exc)[:200]}

    done = run_concurrently({name: partial(refresh, name, build)
                             for name, build in builders.items()})
    return {name: f.result() for name, f in done.items()}
