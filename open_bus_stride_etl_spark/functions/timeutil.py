"""Time-window and timezone helpers.

Ports the *semantics* of /root/reference/open_bus_stride_etl/common.py:
- UTC is the storage timezone; Asia/Jerusalem appears only at export and
  grouping boundaries (common.py:12-21, packagers/siri.py:70-88).
- Date windows default to ``[today - num_days, today]`` (common.py:37-55).
- Airflow passes the literal string ``'None'`` for unset params
  (common.py:24-34) — preserved as a parsing quirk.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F

ISRAEL_TZ = "Asia/Jerusalem"


def to_israel_local(ts: Column) -> Column:
    """UTC instant -> naive Israel-local timestamp (DST-aware via tzdb),
    the Spark analog of ``pytz.timezone('Israel').fromutc`` in
    common.py:12-14."""
    return F.from_utc_timestamp(ts, ISRAEL_TZ)


def israel_iso_string(ts: Column) -> Column:
    """Export canonicalization of datetimes (packagers/siri.py:76-78
    renders Israel-local ISO strings; NULL -> empty string)."""
    return F.coalesce(
        F.date_format(to_israel_local(ts), "yyyy-MM-dd HH:mm:ss"), F.lit("")
    )


def israel_hour_to_utc_hour(hour: int, on_date: datetime.date) -> int:
    """Israel-local wall-clock hour -> UTC hour (common.py:69-71).
    DST-aware via the tz database; the reference anchors the conversion
    to *today's* date (``datetime.now().replace(hour=...)``), so the
    same config hour maps to different UTC hours across the DST switch —
    the caller passes that anchor date."""
    from zoneinfo import ZoneInfo  # noqa: PLC0415

    local = datetime.datetime.combine(on_date, datetime.time(int(hour))).replace(
        tzinfo=ZoneInfo(ISRAEL_TZ)
    )
    return local.astimezone(datetime.timezone.utc).hour


def coerce_none_str(value: str | None) -> str | None:
    """Airflow 'None'-literal quirk (common.py:24-34)."""
    if value is None or value == "" or value == "None":
        return None
    return value


def parse_window(
    min_date: str | None,
    max_date: str | None,
    num_days: int | None,
    today: datetime.date | None = None,
) -> tuple[datetime.date, datetime.date]:
    """Resolve a processing window exactly like common.py:37-55:
    defaults are ``min = today - num_days`` and ``max = today``."""
    today = today or datetime.date.today()
    min_s, max_s = coerce_none_str(min_date), coerce_none_str(max_date)
    max_d = datetime.date.fromisoformat(max_s) if max_s else today
    if min_s:
        min_d = datetime.date.fromisoformat(min_s)
    else:
        min_d = max_d - datetime.timedelta(days=int(num_days or 0))
    return min_d, max_d
