"""Multi-format date parsing & date arithmetic (SURVEY §2.7 F12/F13).

Reference semantics (see /root/reference):
  - parse_date_time(x, c('mdy','ymd')) with Excel 5-digit serials
    (scripts/Roster_scripts/quality_filters.R:23-27,171-180)
  - ISO-8601 with T/Z, dmy, mdy_HMS (docs/notebooks/scripts/functions.R:245-254)
  - output rendered %m/%d/%Y (ROSTER_COMPILE.Rmd:240)
  - ±14-day QA window (quality_filters.R:106-118), 60-day TTL
    (KEEP_NA...Rmd:706-720)

Everything uses try_* forms so dirty strings become NULL under Spark 4's
default ANSI mode instead of raising (reference behavior: bad date ->
NA -> QA flag).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Excel epoch: serial 1 == 1899-12-31, i.e. origin 1899-12-30
#: (quality_filters.R:27).
EXCEL_EPOCH = "1899-12-30"

#: Date formats tried in order — mirrors parse_date_time(c('mdy','ymd'))
#: plus dmy and ISO datetime forms from functions.R:245-254.
DATE_FORMATS = [
    "M/d/yyyy",
    "yyyy-M-d",
    "M-d-yyyy",
    "yyyy/M/d",
    "d-MMM-yyyy",
    "yyyyMMdd",
]
DATETIME_FORMATS = [
    "M/d/yyyy H:m:s",
    "yyyy-M-d H:m:s",
    "yyyy-M-d'T'H:m:s",
    "yyyy-M-d'T'H:m:s'Z'",
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def excel_serial_to_date(col: Column | str,
                         lo: int = 20000, hi: int = 80000) -> Column:
    """5-digit Excel serial -> date; non-numeric / out-of-range -> NULL.

    Range guard keeps ordinary 8-digit yyyymmdd ints and small garbage
    numbers from being misread as serials (20000≈1954, 80000≈2119).
    """
    n = _c(col).try_cast("int")
    ok = n.isNotNull() & (n >= lo) & (n <= hi)
    return F.when(ok, F.date_add(F.lit(EXCEL_EPOCH).cast("date"), n))


#: Format-token -> shape-regex fragments for the parse gate below.
_TOKEN_RE = [
    ("yyyy", r"\d{4}"), ("MMM", r"[A-Za-z]{3}"), ("MM", r"\d{2}"),
    ("dd", r"\d{2}"), ("M", r"\d{1,2}"), ("d", r"\d{1,2}"),
    ("HH", r"\d{2}"), ("H", r"\d{1,2}"), ("mm", r"\d{2}"), ("m", r"\d{1,2}"),
    ("ss", r"\d{2}"), ("s", r"\d{1,2}"),
]


def _shape_regex(fmt: str) -> str | None:
    """Turn a datetime format into a cheap anchored shape regex
    (M/d/yyyy -> ^\\d{1,2}/\\d{1,2}/\\d{4}$). None when the format has
    tokens we don't model — callers then run the parse ungated."""
    import re as _re
    out, i = [], 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "'":  # quoted literal, e.g. 'T'
            j = fmt.index("'", i + 1)
            out.append(_re.escape(fmt[i + 1:j]))
            i = j + 1
            continue
        for tok, rx in _TOKEN_RE:
            if fmt.startswith(tok, i):
                out.append(rx)
                i += len(tok)
                break
        else:
            if ch.isalpha():
                return None  # unmodeled pattern letter
            out.append(_re.escape(ch))
            i += 1
    return "^" + "".join(out) + "$"


def parse_date_multi(col: Column | str,
                     formats: list[str] | None = None,
                     excel_serials: bool = True,
                     datetime_formats: list[str] | None = None) -> Column:
    """First-success parse across formats, Excel serials, ISO datetimes.

    NULL if nothing matches — the caller turns that into a QA flag
    (quality_filters.R:171-180).

    Each attempt is gated behind a shape regex derived from its format
    so a row pays for exactly the parsers whose shape it matches
    (usually one) instead of walking every format through the JVM
    formatter's exception path — ~2x on mixed-format columns, more
    when garbage is common.
    """
    c = F.trim(_c(col))

    def gated(attempt: Column, fmt: str) -> Column:
        rx = _shape_regex(fmt)
        return F.when(c.rlike(rx), attempt) if rx else attempt

    attempts = [gated(F.try_to_date(c, f), f) for f in (formats or DATE_FORMATS)]
    if excel_serials:
        attempts.append(excel_serial_to_date(c))
    for f in (datetime_formats or DATETIME_FORMATS):
        attempts.append(gated(F.try_to_timestamp(c, F.lit(f)).cast("date"), f))
    return F.coalesce(*attempts)


def render_mdY(col: Column | str) -> Column:
    """Canonical output rendering %m/%d/%Y (ROSTER_COMPILE.Rmd:240)."""
    return F.date_format(_c(col), "MM/dd/yyyy")


def date_roundtrip_ok(col: Column | str, fmt: str = "M/d/yyyy") -> Column:
    """Strict-format check: value must parse AND re-render identically
    (quality_filters.R:176-180 round-trip equality)."""
    c = F.trim(_c(col))
    reparsed = F.try_to_date(c, fmt)
    return reparsed.isNotNull() & (F.date_format(reparsed, fmt) == c)


def within_days(a: Column | str, b: Column | str, n: int = 14) -> Column:
    """|datediff| <= n — the ±14-day collection-date QA window
    (quality_filters.R:106-118, fuzzy.Rmd:845-859)."""
    return F.abs(F.datediff(_c(a), _c(b))) <= n


# --- MMWR/CDC epidemiological weeks (uw_sgtf.Rmd:66-75) -----------------

def epi_week_start(col: Column | str) -> Column:
    """Sunday starting the MMWR week containing the date (lubridate
    floor_date(unit='week') with the Sunday week start the reference
    uses). Spark's dayofweek: 1=Sunday."""
    d = _c(col)
    return F.date_sub(d, F.dayofweek(d) - 1)


def epiweek(col: Column | str) -> Column:
    """CDC/MMWR epidemiological week number (lubridate::epiweek).

    Definition: weeks run Sunday-Saturday; week 1 of a year is the week
    containing January 4 (equivalently, the first week with >= 4 days
    in the new year); a date's epi-YEAR is the year of its week's
    Wednesday. Pure date arithmetic — identical results from any engine
    (no locale/WEEK_OF_YEAR settings involved), unlike ISO weekofyear
    which starts Monday and shifts the boundary days."""
    s = epi_week_start(col)
    wed = F.date_add(s, 3)
    jan4 = F.make_date(F.year(wed), F.lit(1), F.lit(4))
    w1s = F.date_sub(jan4, F.dayofweek(jan4) - 1)
    return (F.datediff(s, w1s) / 7 + 1).cast("int")
