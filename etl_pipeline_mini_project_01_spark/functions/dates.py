"""Date/calendar expressions (SURVEY §2.5 F9-F11).

Mirrors the reference's dim_date derivation (/root/reference/src/loader/
silver_etl.py:95-130) with PostgreSQL-compatible semantics:
  * date_key = YYYYMMDD int (TO_CHAR(ts,'YYYYMMDD')::INT),
  * dow 0=Sunday..6 (PG EXTRACT(DOW); Spark dayofweek is 1-based),
  * is_weekend = dow IN (0,6),
  * ISO week (PG EXTRACT(WEEK) == Spark weekofyear).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def date_key(ts: str | Column) -> Column:
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, "yyyyMMdd").cast("int")


def pg_dow(ts: str | Column) -> Column:
    """PostgreSQL EXTRACT(DOW): 0=Sunday..6=Saturday."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return (F.dayofweek(c) - F.lit(1)).cast("int")


def is_weekend(ts: str | Column) -> Column:
    """F10 (silver_etl.py:116): DOW IN (0,6)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.dayofweek(c).isin(1, 7)


def calendar_attrs(ts: str | Column) -> dict[str, Column]:
    """The full dim_date attribute set keyed by output column name."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return {
        "date_key": date_key(c),
        "full_date": F.to_date(c),
        "year": F.year(c),
        "quarter": F.quarter(c),
        "month": F.month(c),
        "month_name": F.date_format(c, "MMMM"),
        "week": F.weekofyear(c),
        "day_of_month": F.dayofmonth(c),
        "day_of_week": pg_dow(c),
        "day_name": F.date_format(c, "EEEE"),
        "is_weekend": is_weekend(c),
    }
