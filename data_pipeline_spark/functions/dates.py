"""Free-text / ISO / EDTF date parsing with full BCE support (SURVEY §2.8 F1–F7).

The reference's flagship scalar is ``make_datetime`` — free text to a
``(begin, end)`` interval (`process/utils/mapper_utils.py:241-494` in
/root/reference): ISO-8601 incl. negative (BCE) years, "1000 BC", German
"13.07.v100" day-first forms, century phrases ("early 12th century"),
masked years ("19XX", "17??"), bare 6/8-digit numerics, and precision
inference that widens the interval to the end of the coarsest given unit.

Spark-first restatement:

- **One parser, one UDF**: every row, ISO strings included, goes through
  a vectorized ``pandas_udf`` (Arrow-batched) over the pure-Python parser
  below.  There is no JVM-side ISO fast path (``to_timestamp`` +
  ``coalesce(fast, udf)``): the UDF stage's fixed cost (see
  ``make_datetime``) is paid whatever fraction of rows reaches it.
- **BCE-capable epoch seconds**: Spark/Parquet timestamps cannot hold
  ``-0450-…`` (SURVEY §7.4#4), so intervals are carried as ISO *strings*
  plus **int64 proleptic-Gregorian epoch seconds** — exact, comparable,
  and identical in every engine.
"""

from __future__ import annotations

import re

_MONTH_DAYS = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)


def _is_leap(y: int) -> bool:
    return y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)


def _days_in_month(y: int, m: int) -> int:
    if m == 2 and _is_leap(y):
        return 29
    return _MONTH_DAYS[m - 1]


def _days_before_year(y: int) -> int:
    """Days from 0001-01-01 (day 0) to Jan 1 of year y, proleptic Gregorian.

    Works for y <= 0 too (astronomical numbering: year 0 = 1 BCE)."""
    yy = y - 1
    return yy * 365 + _floordiv(yy, 4) - _floordiv(yy, 100) + _floordiv(yy, 400)


def _floordiv(a: int, b: int) -> int:
    return a // b


# Days from 0001-01-01 to 1970-01-01 (the Unix epoch), proleptic Gregorian.
_EPOCH_DAYS = 719162


def epoch_seconds(y: int, mo: int = 1, d: int = 1, h: int = 0, mi: int = 0, s: int = 0) -> int:
    """int64 seconds since 1970-01-01T00:00:00Z for any proleptic-Gregorian
    date, including BCE years (astronomical numbering: -449 == 450 BCE ==
    ISO year -0449). The BCE-safe companion of ``unix_timestamp`` (F7)."""
    days = _days_before_year(y)
    for m in range(1, mo):
        days += _days_in_month(y, m)
    days += d - 1
    return (days - _EPOCH_DAYS) * 86400 + h * 3600 + mi * 60 + s


def _iso(y: int, mo: int, d: int, h: int, mi: int, s: int) -> str:
    sign = "-" if y < 0 else ""
    return f"{sign}{abs(y):04d}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}"


def _interval(y0, mo0=None, d0=None, h0=None, mi0=None, s0=None):
    """Widen a partially-specified date to a [begin, end] interval: the end
    is the last second of the coarsest given unit (the reference's
    'precision inference and interval expansion minus 1s')."""
    b = (y0, mo0 or 1, d0 or 1, h0 or 0, mi0 or 0, s0 or 0)
    if mo0 is None:
        e = (y0, 12, 31, 23, 59, 59)
    elif d0 is None:
        e = (y0, mo0, _days_in_month(y0, mo0), 23, 59, 59)
    elif h0 is None:
        e = (y0, mo0, d0, 23, 59, 59)
    elif mi0 is None:
        e = (y0, mo0, d0, h0, 59, 59)
    elif s0 is None:
        e = (y0, mo0, d0, h0, mi0, 59)
    else:
        e = (y0, mo0, d0, h0, mi0, s0)
    return (_iso(*b), _iso(*e), epoch_seconds(*b), epoch_seconds(*e))


# ---------------------------------------------------------------------------
# Hebrew-calendar tail (F1): the reference treats parsed years > 4500 as
# Hebrew-calendar dates (4500 AM ~= 740 CE) and converts them to Gregorian
# via pyluach (`mapper_utils.py:200-208`, applied at `:429-431,489`).
# pyluach is not in this environment, so the small fixed-point arithmetic
# (standard molad/dechiyot computation, as in Calendrical Calculations and
# hebcal) is vendored here.  Month numbering follows pyluach/biblical
# convention — 1=Nissan..6=Elul, 7=Tishrei..12=Adar (13=Adar II in leap
# years) — with the year incrementing at Tishrei, so months 7..13 of year
# y fall BEFORE months 1..6 of the same y chronologically.
# ---------------------------------------------------------------------------


def _hebrew_leap(y: int) -> bool:
    return (7 * y + 1) % 19 < 7


def _hebrew_elapsed_days(y: int) -> int:
    """Days from the Hebrew epoch to Tishrei 1 of year y, including the
    molad-zaken and weekday postponement rules (dechiyot)."""
    months = 235 * ((y - 1) // 19) + 12 * ((y - 1) % 19) + (7 * ((y - 1) % 19) + 1) // 19
    parts = 204 + 793 * (months % 1080)
    hours = 5 + 12 * months + 793 * (months // 1080) + parts // 1080
    day = 1 + 29 * months + hours // 24
    parts = 1080 * (hours % 24) + parts % 1080
    if (
        parts >= 19440
        or (day % 7 == 2 and parts >= 9924 and not _hebrew_leap(y))
        or (day % 7 == 1 and parts >= 16789 and _hebrew_leap(y - 1))
    ):
        day += 1
    if day % 7 in (0, 3, 5):
        day += 1
    return day


def _hebrew_month_lengths(y: int) -> list[tuple[int, int]]:
    """[(pyluach_month_no, n_days)] in CHRONOLOGICAL (Tishrei-first)
    order for Hebrew year y."""
    year_days = _hebrew_elapsed_days(y + 1) - _hebrew_elapsed_days(y)
    long_cheshvan = year_days % 10 == 5
    short_kislev = year_days % 10 == 3
    out = [
        (7, 30),  # Tishrei
        (8, 30 if long_cheshvan else 29),  # Cheshvan
        (9, 29 if short_kislev else 30),  # Kislev
        (10, 29),  # Teves
        (11, 30),  # Shevat
    ]
    if _hebrew_leap(y):
        out += [(12, 30), (13, 29)]  # Adar I, Adar II
    else:
        out += [(12, 29)]  # Adar
    out += [(1, 30), (2, 29), (3, 30), (4, 29), (5, 30), (6, 29)]
    return out


# our day number (days since 0001-01-01 proleptic Gregorian = RD - 1) of
# the day before Tishrei 1, AM 1 — i.e. days = _HEBREW_EPOCH_DAYS +
# elapsed + offset-in-year.  Verified against known conversions in
# tests/test_functions.py (Tishrei 1 5730 = 1969-09-13, etc.).
_HEBREW_EPOCH_DAYS = -1373429


def _gregorian_from_days(n: int) -> tuple[int, int, int]:
    """Inverse of the day count used by epoch_seconds: day n (0 =
    0001-01-01) -> proleptic-Gregorian (y, m, d)."""
    y = (400 * n) // 146097 + 1
    while _days_before_year(y + 1) <= n:
        y += 1
    rem = n - _days_before_year(y)
    m = 1
    while rem >= _days_in_month(y, m):
        rem -= _days_in_month(y, m)
        m += 1
    return y, m, rem + 1


def hebrew_to_gregorian(y: int, m: int, d: int) -> tuple[int, int, int] | None:
    """Hebrew (y, m, d) in pyluach month numbering -> proleptic-Gregorian
    (y, m, d); None if the Hebrew date is invalid (month out of range for
    the year, or day past the month's length)."""
    lengths = _hebrew_month_lengths(y)
    offset = 0
    for month_no, n_days in lengths:
        if month_no == m:
            if not 1 <= d <= n_days:
                return None
            return _gregorian_from_days(
                _HEBREW_EPOCH_DAYS + _hebrew_elapsed_days(y) + offset + d - 1
            )
        offset += n_days
    return None  # month 13 in a non-leap year


def _hebrew_interval(y: int, mo: int | None, d: int | None):
    """Widen a Hebrew-calendar date to a Gregorian [begin, end] interval
    at the given precision, widening WITHIN the Hebrew calendar: a bare
    year spans [Tishrei 1, Elul 29] (the reference widens in Gregorian
    month numbers first and then converts, which raises on day-31 Adar —
    we define the in-calendar semantics instead and return None only for
    genuinely invalid dates)."""
    lengths = _hebrew_month_lengths(y)
    if mo is None:
        b = hebrew_to_gregorian(y, 7, 1)  # Tishrei 1
        e = hebrew_to_gregorian(y, 6, 29)  # Elul 29
    else:
        n_days = dict(lengths).get(mo)
        if n_days is None:
            return None
        b = hebrew_to_gregorian(y, mo, d if d is not None else 1)
        e = hebrew_to_gregorian(y, mo, d if d is not None else n_days)
    if b is None or e is None:
        return None
    return (
        _iso(*b, 0, 0, 0),
        _iso(*e, 23, 59, 59),
        epoch_seconds(*b),
        epoch_seconds(*e, 23, 59, 59),
    )


_ISO_RE = re.compile(
    r"^(-?\d{1,6})(?:-(\d{1,2})(?:-(\d{1,2})(?:[t ](\d{1,2}):(\d{2})(?::(\d{2}))?)?)?)?$"
)
_BC_RE = re.compile(r"^(?:about |ca\.? ?|c\.? ?)?(\d{1,6})\s*(?:bce?|b\.c\.e?\.?)$")
_CENTURY_RE = re.compile(
    r"^(?:(early|mid|late)[- ])?(\d{1,2})(?:st|nd|rd|th)? century( bce?)?$"
)
_MASK_RE = re.compile(r"^(\d{1,3})(x{1,3}|\?{1,3})$")
_NUM68_RE = re.compile(r"^(\d{4})(\d{2})(\d{2})?$")
_GERMAN_RE = re.compile(r"^(\d{1,2})\.(\d{1,2})\.(v?)(\d{1,6})$")
_RANGE_RE = re.compile(r"^(-?\d{3,4})\s*[-/]\s*(-?\d{3,4})$")


def parse_datetime(text):
    """Parse one free-text date. Returns
    ``(begin_iso, end_iso, begin_sec, end_sec)`` or ``None``.

    Independent reimplementation of the semantics catalogued from
    `mapper_utils.py:241-494` (free-text tail) + `marklogic/mapper.py:83-97`
    (epoch-seconds derivation), structured as ordered pattern families.
    """
    if text is None:
        return None
    t = str(text).strip().lower()
    if not t or t in ("unknown", "n/a", "undated", "no date"):
        return None
    # "1903?" — uncertainty marker stripped (but keep "19??" masks)
    if t.endswith("?") and not t.endswith("??"):
        t = t[:-1].strip()

    # bare 6/8-digit numerics are YYYYMM / YYYYMMDD, not 6-digit years
    if re.fullmatch(r"\d{6}|\d{8}", t):
        m = _NUM68_RE.match(t)
        y, mo = int(m.group(1)), int(m.group(2))
        d = int(m.group(3)) if m.group(3) else None
        if y > 4500:
            if not 1 <= mo <= 13:
                return None
            return _hebrew_interval(y, mo, d)
        if 1 <= mo <= 12 and (d is None or 1 <= d <= _days_in_month(y, mo)):
            return _interval(y, mo, d)
        return None

    m = _ISO_RE.match(t)
    if m:
        y = int(m.group(1))
        if y == 0 and not m.group(1).startswith("0"):
            return None
        parts = [int(g) if g is not None else None for g in m.groups()[1:]]
        mo, d, h, mi, s = parts
        # time-of-day must be in range for EITHER calendar — epoch_seconds
        # would silently normalize 25:61 into the next day while the ISO
        # string kept the bogus digits
        if (h is not None and h > 23) or (mi is not None and mi > 59) or (
            s is not None and s > 59
        ):
            return None
        if y > 4500:
            # most likely Hebrew calendar; 4500 AM ~= 740 CE
            # (mapper_utils.py:200-208, applied at :429-431,489).  Valid
            # time components are accepted but the interval stays at day
            # precision — the reference resets the converted date to
            # midnight (to_pydate().isoformat() + 'T00:00:00')
            if mo is not None and not 1 <= mo <= 13:
                return None
            return _hebrew_interval(y, mo, d)
        if mo is not None and not 1 <= mo <= 12:
            return None
        if d is not None and not 1 <= d <= _days_in_month(y, mo):
            return None
        return _interval(y, mo, d, h, mi, s)

    m = _BC_RE.match(t)
    if m:
        # "450 BC" == astronomical year -449 (year 0 = 1 BCE)
        y = 1 - int(m.group(1))
        return _interval(y)

    m = _CENTURY_RE.match(t)
    if m:
        qual, n, bce = m.group(1), int(m.group(2)), m.group(3)
        if bce:
            # 5th century BCE = 500 BCE..401 BCE = astronomical -499..-400
            y0, y1 = 1 - n * 100, -((n - 1) * 100)
        else:
            y0, y1 = (n - 1) * 100 + 1, n * 100
        span = y1 - y0 + 1
        if qual == "early":
            y1 = y0 + span // 3 - 1
        elif qual == "mid":
            y0, y1 = y0 + span // 3, y0 + 2 * (span // 3) - 1
        elif qual == "late":
            y0 = y1 - span // 3 + 1
        b, e = _interval(y0), _interval(y1)
        return (b[0], e[1], b[2], e[3])

    m = _MASK_RE.match(t)
    if m:
        head, mask = m.group(1), m.group(2)
        scale = 10 ** len(mask)
        y0 = int(head) * scale
        y1 = y0 + scale - 1
        b, e = _year_span_interval(y0, y0 > 4500), _year_span_interval(y1, y0 > 4500)
        if b is None or e is None:
            return None
        return (b[0], e[1], b[2], e[3])

    m = _GERMAN_RE.match(t)  # "13.07.1984" / "13.07.v100" (v = BCE)
    if m:
        d, mo = int(m.group(1)), int(m.group(2))
        y = int(m.group(4))
        if m.group(3):
            y = 1 - y
        if y > 4500:
            return _hebrew_interval(y, mo, d) if 1 <= mo <= 13 else None
        if 1 <= mo <= 12 and 1 <= d <= _days_in_month(y, mo):
            return _interval(y, mo, d)
        return None

    m = _RANGE_RE.match(t)
    if m:
        y0, y1 = int(m.group(1)), int(m.group(2))
        if y0 <= y1:
            b, e = _year_span_interval(y0, y0 > 4500), _year_span_interval(y1, y0 > 4500)
            if b is None or e is None:
                return None
            return (b[0], e[1], b[2], e[3])
        return None

    return None


def _year_span_interval(y: int, hebrew: bool):
    """Full-year interval for a range/mask endpoint.  The CALENDAR is
    decided once per expression, from the span's START year (> 4500 ->
    Hebrew, Tishrei 1 .. Elul 29; else Gregorian): a span like
    "45??" (4500..4599) or "4400-4600" must not mix calendars
    per-endpoint — a Hebrew 4599 is ~839 CE, which would put the end
    BEFORE the Gregorian begin and emit an inverted interval."""
    if hebrew:
        return _hebrew_interval(y, None, None)
    return _interval(y)


TIMESPAN_SCHEMA = (
    "begin_iso string, end_iso string, begin_sec bigint, end_sec bigint"
)


def make_datetime_udf():
    """Vectorized (Arrow-batched) pandas UDF: text -> timespan struct.

    Registered lazily so importing this module never requires an active
    SparkSession."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _make_datetime(texts):
        rows = [parse_datetime(t) for t in texts]
        return pd.DataFrame(
            [r if r is not None else (None, None, None, None) for r in rows],
            columns=["begin_iso", "end_iso", "begin_sec", "end_sec"],
        )

    # annotations set post-hoc: `from __future__ import annotations` would
    # stringify inline hints and break PySpark's signature inference
    _make_datetime.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return pandas_udf(_make_datetime, TIMESPAN_SCHEMA)


def make_datetime(col):
    """Column expression: free-text date -> timespan struct.  Every row,
    ISO strings included, goes through the pandas UDF (there is no
    JVM-side fast path).  A pandas-UDF stage has a fixed cost that does
    not scale with its rows: on local[4], 4 rows cost about what 2,000
    do, ~2 s for the first such stage in a JVM (Python worker start) and
    ~0.3-0.5 s warm.  The cost is paid even when every row is filtered
    out below the UDF: on a 4-core host, a 3,000-row input filtered to
    zero rows took 1.4-2.4 s as the first Python stage against 0.07-0.9 s
    for the same job without the UDF, and 0.27-0.69 s warm against
    0.03-0.23 s.

    The returned struct carries (begin_iso, end_iso, begin_sec, end_sec);
    the *_sec fields are BCE-safe int64 epoch seconds — use them for every
    comparison/sort (SURVEY §7.4#4)."""
    udf = make_datetime_udf()
    return udf(col.cast("string"))


def with_timespan(df, text_col: str, out_col: str = "timespan"):
    """Attach a parsed timespan struct for ``text_col``."""
    from pyspark.sql import functions as F

    return df.withColumn(out_col, make_datetime(F.col(text_col)))


def lifespan_ok(birth_begin_sec, death_end_sec, max_years: int = 122):
    """F5 birth/death sanity (mapper_utils.py:146-197): death after birth
    and lifespan <= 122 years, computed on BCE-safe epoch seconds."""
    from pyspark.sql import functions as F

    span = F.col(death_end_sec) - F.col(birth_begin_sec) if isinstance(
        birth_begin_sec, str
    ) else death_end_sec - birth_begin_sec
    lo = F.col(birth_begin_sec) if isinstance(birth_begin_sec, str) else birth_begin_sec
    hi = F.col(death_end_sec) if isinstance(death_end_sec, str) else death_end_sec
    return (hi >= lo) & (span <= max_years * 365.25 * 86400)


def year_of(iso_col):
    """F6: display year (incl. negative) from an ISO string column —
    everything before the month separator, sign preserved."""
    from pyspark.sql import functions as F

    return F.regexp_extract(iso_col, r"^(-?\d+)", 1).cast("bigint")
