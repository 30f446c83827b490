"""Time helpers (SURVEY §2.9 C1, C5; ref
/root/reference/src/ubdc_airbnb/ubdc_airbnb/utils/time.py:6-15) as native
expressions."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def start_of_day(ts: Column | str | None = None) -> Column:
    """C1: UTC midnight of the given timestamp (default now)."""
    c = F.current_timestamp() if ts is None else _c(ts)
    return F.date_trunc("DAY", c)


def end_of_day(ts: Column | str | None = None) -> Column:
    """C1: 23:59:59.999999 of the given timestamp's day."""
    return start_of_day(ts) + F.expr("INTERVAL 1 DAY") - F.expr("INTERVAL 1 MICROSECOND")


def elapsed_seconds(start: Column | str, end: Column | str) -> Column:
    """C5: whole seconds between two timestamps."""
    return (F.unix_timestamp(_c(end)) - F.unix_timestamp(_c(start))).cast("long")
