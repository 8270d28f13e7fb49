"""Datetime surface (SURVEY §2.8 datetime).

Reference: /root/reference/riptable/rt_datetime.py — DateTimeNano (int64
ns UTC), Date (int32 days), TimeSpan/DateSpan spans; calendar accessors at
rt_datetime.py:3367-4017. Spark TimestampType is µs-precision — the ns
remainder is carried separately when needed (SURVEY hard-part (c)).
tz conversion uses the JVM tzdb (real names like America/New_York) instead
of the reference's hand-rolled transition tables (rt_timezone.py:28-1000).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# calendar accessors (rt_datetime.py:3367-4017)
year = F.year
month = F.month
day = F.dayofmonth
day_of_month = F.dayofmonth
day_of_year = F.dayofyear
hour = F.hour
minute = F.minute
second = F.second


def millisecond(col: Column) -> Column:
    return (F.unix_micros(col) % 1_000_000) / 1000


def microsecond(col: Column) -> Column:
    return F.unix_micros(col) % 1_000_000


def day_of_week(col: Column) -> Column:
    """riptable: Monday=0 (rt_datetime.py day_of_week). Spark dayofweek:
    Sunday=1 → shift."""
    return (F.dayofweek(col) + 5) % 7


def is_weekend(col: Column) -> Column:
    return day_of_week(col) >= 5


def is_weekday(col: Column) -> Column:
    return day_of_week(col) < 5


def is_leapyear(col: Column) -> Column:
    y = F.year(col)
    return ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)


def monthyear(col: Column) -> Column:
    """rt_datetime.py monthyear: 'Jan2024'-style label."""
    return F.date_format(col, "MMMyyyy")


def time_since_midnight(col: Column) -> Column:
    """rt_datetime.py:4017 — nanoseconds since midnight (µs precision)."""
    return (F.unix_micros(col) - F.unix_micros(F.date_trunc("day", col))) * 1000


def time_since_start_of_year(col: Column) -> Column:
    return (F.unix_micros(col) - F.unix_micros(F.date_trunc("year", col))) * 1000


# -- string → timestamp parsing family (rt_datetime.py:274-518) ----------
#
# The reference's rc.StrptimeToNanos / DateTimeStringToNanos /
# DateStringToNanos / TimeStringToNanos kernels, re-expressed as codegen
# expressions: translate C strptime escapes to Spark's DateTimeFormatter
# patterns and coalesce over try_to_timestamp candidates (unparseable
# strings → NULL, the reference's invalid). from_tz interprets the wall
# time (TimeZone._ALIAS_TIMEZONE_NAMES, rt_timezone.py:1022-1030); the
# returned column is a UTC instant like DateTimeNano. to_tz is a
# display-only attribute in the reference and is not materialized here.

_TZ_ALIASES = {
    "NYC": "America/New_York",
    "DUBLIN": "Europe/Dublin",
    "Sydney": "Australia/Sydney",
    "Hongkong": "Asia/Hong_Kong",
    "Tokyo": "Asia/Tokyo",
    "Seoul": "Asia/Seoul",
    "US/Eastern": "America/New_York",
    "GMT": "UTC",
}

# Two translation variants per format: single-letter patterns parse both
# padded and unpadded digits in DELIMITED strings ("02/1/1992" and
# "2/1/1992" alike), but Java's greedy variable-width numeric parsing
# cannot split UNDELIMITED runs like '19920201' — those need the
# fixed-width padded patterns (yyyyMMdd). Both are emitted as coalesce
# candidates.
_STRPTIME_ESCAPES = {
    "%Y": ("yyyy", "yyyy"),
    "%y": ("yy", "yy"),
    "%B": ("MMMM", "MMMM"),
    "%b": ("MMM", "MMM"),
    "%m": ("M", "MM"),
    "%d": ("d", "dd"),
    "%H": ("H", "HH"),
    "%I": ("h", "hh"),
    "%p": ("a", "a"),
    "%M": ("m", "mm"),
    "%S": ("s", "ss"),
    "%j": ("D", "DDD"),
}


def resolve_tz(tz: str) -> str:
    """riptable tz shortname → tzdb identifier (rt_timezone.py:1022)."""
    return _TZ_ALIASES.get(tz, tz)


def _translate_strptime(fmt: str, padded: bool = False) -> str:
    """C strptime escapes → Java DateTimeFormatter pattern. Literal text
    is emitted safely: '%%' becomes a literal '%', and any run containing
    an ASCII letter or a quote is single-quoted (an unquoted literal 'T'
    would otherwise be a reserved pattern letter)."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if not lit:
            return
        chunk = "".join(lit)
        lit.clear()
        if any(c.isalpha() or c == "'" for c in chunk):
            out.append("'" + chunk.replace("'", "''") + "'")
        else:
            out.append(chunk)

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%" and i + 1 < len(fmt):
            key = fmt[i : i + 2]
            if key == "%%":
                lit.append("%")
            elif key in _STRPTIME_ESCAPES:
                flush()
                out.append(_STRPTIME_ESCAPES[key][1 if padded else 0])
            else:
                lit.append(fmt[i + 1])
            i += 2
            continue
        lit.append(c)
        i += 1
    flush()
    return "".join(out)


def _parse_candidates(col: Column, fmts: list[str]) -> Column:
    return F.coalesce(*[F.try_to_timestamp(col, F.lit(f)) for f in fmts])


def strptime_to_nano(col: Column, fmt: str, from_tz: str = "UTC") -> Column:
    """rt_datetime.py:274 strptime_to_nano — parse with a C-strptime
    format. A trailing '.fffffffff' second fraction (up to 9 digits, the
    reference's automatic ns fraction) is accepted without an escape;
    Spark truncates to µs precision. Both unpadded (delimited strings)
    and fixed-width padded (undelimited '19920201') translations are
    coalesce candidates."""
    bases = [_translate_strptime(fmt, padded=False)]
    padded = _translate_strptime(fmt, padded=True)
    if padded not in bases:
        bases.append(padded)
    # 'SSSSSSSSS' accepts 1..9 fraction digits, covering .SSS/.SSSSSS too
    cands = [c for b in bases for c in (b, b + ".SSSSSSSSS")]
    parsed = _parse_candidates(F.trim(col), cands)
    return F.to_utc_timestamp(parsed, resolve_tz(from_tz))


def datetimestring_to_nano(col: Column, from_tz: str = "UTC") -> Column:
    """rt_datetime.py:380 — auto-format datetime parse (YYYY-MM-DD
    HH:MM:SS, YYYYMMDD H:MM:SS[.ffffff], date-only forms)."""
    fmts = [
        "y-M-d H:m:s.SSSSSSSSS",  # 1..9 fraction digits (ns auto-fraction)
        "y-M-d H:m:s",
        "yyyyMMdd H:m:s.SSSSSSSSS",
        "yyyyMMdd H:m:s",
        "y/M/d H:m:s",
        "y-M-d",
        "yyyyMMdd",
    ]
    return F.to_utc_timestamp(_parse_candidates(F.trim(col), fmts), resolve_tz(from_tz))


def datestring_to_nano(col: Column, time: str | Column | None = None, from_tz: str = "UTC") -> Column:
    """rt_datetime.py:410 — date strings (YYYY-MM-DD / YYYYMMDD) →
    midnight instants; optional ``time`` ('HH:MM:SS[.ffffff]', scalar or
    Column) added to every date."""
    d = _parse_candidates(F.trim(col), ["y-M-d", "yyyyMMdd", "y/M/d"])
    if time is not None:
        d = d + timestring_to_span(F.lit(time) if isinstance(time, str) else time)
    return F.to_utc_timestamp(d, resolve_tz(from_tz))


def timestring_to_span(col: Column) -> Column:
    """rt_datetime.py:460 timestring_to_nano without a date: time-of-day
    strings (H:MM:SS[.ffffff]) → TimeSpan (DayTimeIntervalType). Anchor
    the parse at the epoch and difference the timestamps — timestamp
    subtraction is a native interval in Spark."""
    anchored = _parse_candidates(
        F.concat(F.lit("1970-01-01 "), F.trim(col)),
        ["y-M-d H:m:s.SSSSSSSSS", "y-M-d H:m:s", "y-M-d H:m"],
    )
    return anchored - F.to_timestamp(F.lit("1970-01-01"))


def timestring_to_nano(col: Column, date: str | Column | None = None, from_tz: str = "UTC") -> Column:
    """rt_datetime.py:460 with a date: combine time-of-day strings with a
    date (scalar or per-row Column of 'YYYY-MM-DD') into instants. Without
    ``date``, use timestring_to_span (the reference returns TimeSpan)."""
    if date is None:
        return timestring_to_span(col)
    d = F.lit(date) if isinstance(date, str) else date
    base = _parse_candidates(F.trim(d), ["y-M-d", "yyyyMMdd"])
    return F.to_utc_timestamp(base + timestring_to_span(col), resolve_tz(from_tz))


def strptime_to_timestamp(col: Column, fmt: str) -> Column:
    return F.to_timestamp(col, fmt)


def parse_epoch(col: Column) -> Column:
    """rt_datetime.py:518 — epoch seconds → timestamp."""
    return F.timestamp_seconds(col)


def strftime(col: Column, fmt: str) -> Column:
    return F.date_format(col, fmt)


def to_iso(col: Column) -> Column:
    return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")


def to_tz(col: Column, tz: str) -> Column:
    """DateTimeNano display-tz move (rt_timezone.py:1294 to_utc inverse)."""
    return F.from_utc_timestamp(col, tz)


def from_tz(col: Column, tz: str) -> Column:
    return F.to_utc_timestamp(col, tz)


def tz_offset_seconds(col: Column, tz: str) -> Column:
    """UTC offset of ``tz`` at each instant, in seconds (negative west of
    Greenwich). Pure codegen: shift the instant to wall time with the JVM
    tzdb and difference the epochs — no transition tables needed (the
    reference hand-rolls NYC/Dublin int64 transition arrays,
    rt_timezone.py:28-1000)."""
    return F.unix_seconds(F.from_utc_timestamp(col, tz)) - F.unix_seconds(col)


def is_dst(col: Column, tz: str) -> Column:
    """DST flag for any tzdb zone (rt_datetime.py is_dst, rt_timezone.py
    fix_dst:1237), hemisphere-correct: the zone's STANDARD offset at a
    given instant is the smaller of its offsets at Jan-1 and Jul-1 of
    that year (DST always shifts clocks forward), so a row is in DST iff
    its offset exceeds that minimum. Zones without DST compare equal and
    return false everywhere. All whole-stage codegen."""
    jan = F.to_timestamp(F.concat(F.year(col).cast("string"), F.lit("-01-01")))
    jul = F.to_timestamp(F.concat(F.year(col).cast("string"), F.lit("-07-01")))
    std = F.least(tz_offset_seconds(jan, tz), tz_offset_seconds(jul, tz))
    return tz_offset_seconds(col, tz) > std


def date_range(start: str, stop: str, step_days: int = 1) -> Column:
    """Date.range (rt_datetime.py:2122) → sequence + explode at callsite."""
    return F.sequence(
        F.to_date(F.lit(start)),
        F.to_date(F.lit(stop)),
        F.expr(f"interval {step_days} days"),
    )


def resample_floor(col: Column, seconds: int) -> Column:
    """GroupByOps.resample (NotImplementedError in the reference,
    rt_groupbyops.py:3533) — time-bucket key: timestamp floored to a
    fixed step. Pure epoch arithmetic, codegen-friendly, identical
    semantics to date_trunc for sub-hour grains."""
    return F.timestamp_seconds(F.floor(F.unix_micros(col) / F.lit(seconds * 1_000_000)) * seconds)


def utcnow() -> Column:
    """Current UTC instant (rt_datetime.py utcnow → DateTimeNano). µs
    precision on Spark (TimestampType); constant within a query per ANSI
    current_timestamp semantics — the distributed analogue of one
    GetNanoTime() call."""
    return F.current_timestamp()


def get_nano_time() -> Column:
    """Epoch nanoseconds of the current instant (rt_timers.py GetNanoTime).
    Spark timestamps carry µs; the ns value is µs*1000 — documented
    precision loss vs the reference's clock_gettime."""
    return F.unix_micros(F.current_timestamp()) * F.lit(1000)
