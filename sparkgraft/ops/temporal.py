"""Temporal scalar ops (reference §2.8 F1-F6 equivalents).

All built-in JVM functions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: the reference's raw-CSV timestamp format (DataLoadTransformer.scala:47)
RAW_TS_FORMAT = "yyyy-MM-dd HH:mm:ss 'UTC'"


def utc_to_tz(col: Column | str, tz: str = "Asia/Seoul") -> Column:
    """Shift a UTC wall-clock timestamp into a target zone's wall clock (F2).

    Parity: ``from_utc_timestamp(ts, "Asia/Seoul")`` at reference
    transformer/DataLoadTransformer.scala:48.
    """
    c = F.col(col) if isinstance(col, str) else col
    # from_utc_timestamp needs zoned TimestampType; NTZ input under a UTC
    # session keeps the same wall clock through the cast.
    return F.from_utc_timestamp(c.cast("timestamp"), tz)


def local_date(col: Column | str, tz: str = "Asia/Seoul") -> Column:
    """Calendar date in ``tz`` for a UTC timestamp (F2+F3) — the reference's
    partition key ``event_date_kst`` (DataLoadTransformer.scala:48-49)."""
    return F.to_date(utc_to_tz(col, tz))


def week_start(col: Column | str) -> Column:
    """Monday-start week bucket as DATE (F5: DATE_TRUNC('WEEK', …))."""
    return F.date_trunc("week", F.col(col) if isinstance(col, str) else col).cast("date")
