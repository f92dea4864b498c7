"""Window-period acceptance filter (P6/W1).

Reference semantics (``core/.../beam/ClusteredBeam.scala#sendAll``, tuning in
``ClusteredBeamTuning#windowPeriod``, default PT10M): an event is accepted iff
``|event_ts − wall_clock| ≤ windowPeriod`` — i.e. BOTH late and future data
are rejected, measured against the PROCESSING-time clock, and additionally no
event may land in a bucket at or before ``latestCloseTime``. Rejected events
surface as ``MessageDroppedException`` to the sender.

Spark watermarks are NOT equivalent (SURVEY.md §4.3): ``withWatermark`` only
bounds lateness, and relative to max-seen-EVENT-time. So this operator is an
explicit filter. ``now`` is injectable for deterministic tests (the reference
tests the same way — ``TestingTimekeeper`` in ``ClusteredBeamTest``,
SURVEY.md §5).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _parse_iso_duration_seconds(period: str) -> int:
    """Tiny ISO-8601 duration parser for the PT..H/M/S subset Druid uses."""
    p = period.upper()
    if not p.startswith("PT"):
        raise ValueError(f"expected ISO duration like PT10M, got {period!r}")
    secs, num = 0, ""
    for ch in p[2:]:
        if ch.isdigit():
            num += ch
        elif ch == "H":
            secs += int(num) * 3600
            num = ""
        elif ch == "M":
            secs += int(num) * 60
            num = ""
        elif ch == "S":
            secs += int(num)
            num = ""
        else:
            raise ValueError(f"bad duration component {ch!r} in {period!r}")
    return secs


def window_period_seconds(period: str | int) -> int:
    return period if isinstance(period, int) else _parse_iso_duration_seconds(period)


def window_condition(
    ts: Column,
    window_period: str | int = "PT10M",
    now: _dt.datetime | str | None = None,
    latest_close_time: _dt.datetime | str | None = None,
) -> Column:
    """``|ts − now| ≤ windowPeriod`` (and ``ts > latestCloseTime``) as a Column.

    The one statement of the window rule: the filter below and the
    Tranquilizer's per-event disposition both use it. ``now=None`` uses
    ``current_timestamp()`` (true reference semantics: wall clock); pass a
    fixed datetime for deterministic tests/oracles.
    """
    secs = window_period_seconds(window_period)
    now_col: Column = F.current_timestamp() if now is None else F.lit(now).cast("timestamp")
    cond = (ts >= now_col - F.expr(f"INTERVAL {secs} SECONDS")) & (
        ts <= now_col + F.expr(f"INTERVAL {secs} SECONDS")
    )
    if latest_close_time is not None:
        cond = cond & (ts > F.lit(latest_close_time).cast("timestamp"))
    return cond


def two_sided_window_filter(
    df: DataFrame,
    ts_col: str = "ts",
    window_period: str | int = "PT10M",
    now: _dt.datetime | str | None = None,
    latest_close_time: _dt.datetime | str | None = None,
) -> DataFrame:
    """Keep rows with ``|ts − now| ≤ windowPeriod`` (and after latestCloseTime)."""
    return df.filter(window_condition(F.col(ts_col), window_period, now, latest_close_time))
