"""Date/time parsing engine: driver-side format detection over samples +
vectorized Column expressions for the bulk conversion, and the one
date-range predicate every loader filters with (`date_range_filter`).

Parity target: /root/reference/openpolicedata/datetime_parser.py —
`to_datetime` recovery branches (:530-757), `parse_date_to_datetime` numeric
classification (:14-203), `parse_time` (:382-527), `merge_date_and_time`
(:206-228), and data.py:1868-1960 `_check_date` sentinel handling.

Spark mapping (SURVEY §7.9): the reference tries ~20 pandas fallbacks row by
row; here a *sample* (limit 1000 → driver) picks the format strategy once,
then ONE coalesce-of-try_to_timestamp expression converts the whole column
JVM-side. `pd.Period` partial dates become (DateType floor, precision
string) pairs — see ``PERIOD_PRECISIONS``.
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openpolicedata_spark.functions.sqltext import ColumnOrName, bind, column, conj, lit

PERIOD_PRECISIONS = ("day", "month", "quarter", "year")

# Candidate string formats, ordered: first match in sampling wins
# (mirrors the probe tables in datetime_parser.py:551-644 and
# arcgis_class.py:296-361).
STRING_FORMATS: list[tuple[str, str]] = [
    # (regex on the raw string, Spark datetime pattern)
    (r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}", "yyyy-MM-dd HH:mm:ss"),
    (r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}$", "yyyy-MM-dd['T'][ ]HH:mm"),
    (r"^\d{4}-\d{2}-\d{2}$", "yyyy-MM-dd"),
    (r"^\d{4}/\d{2}/\d{2}$", "yyyy/MM/dd"),
    (r"^\d{1,2}/\d{1,2}/\d{4} \d{1,2}:\d{2}:\d{2}", "M/d/yyyy H:mm:ss"),
    (r"^\d{1,2}/\d{1,2}/\d{4} \d{1,2}:\d{2}", "M/d/yyyy H:mm"),
    (r"^\d{1,2}/\d{1,2}/\d{4}$", "M/d/yyyy"),
    (r"^\d{1,2}-\d{1,2}-\d{4}$", "M-d-yyyy"),
    (r"^\d{1,2}/\d{1,2}/\d{2}$", "M/d/yy"),
    (r"^\d{8}$", "yyyyMMdd"),
    # 'Jan 31, 2022' / 'Jan. 31 2022' / 'January 31 2022'
    (r"^[A-Za-z]{3,9}\.? \d{1,2},? \d{4}$", "MMM[.] d[,] yyyy"),
    (r"^[A-Za-z]{3,9}\.? \d{1,2},? \d{4}$", "MMMM[.] d[,] yyyy"),
    (r"^\d{1,2} [A-Za-z]{3} \d{4}$", "d MMM yyyy"),
    # '11/05/2025 1430 hours' (reference datetime_parser.py:562-571)
    (r"(?i)^\d{1,2}/\d{1,2}/\d{4} \d{3,4} *(hours|hrs)\.?$", "__hours__"),
]


def _classify_numeric(vals: list[int]) -> Optional[str]:
    """Classify an integer date column by digit-range validity
    (reference datetime_parser.py:44-118): yyyymmdd / mmddyyyy / epoch-s /
    epoch-ms / year."""
    if not vals:
        return None

    def ok_yyyymmdd(v: int) -> bool:
        y, m, d = v // 10000, (v // 100) % 100, v % 100
        return 1900 <= y <= 2200 and 1 <= m <= 12 and 1 <= d <= 31

    def ok_mmddyyyy(v: int) -> bool:
        m, d, y = v // 1000000, (v // 10000) % 100, v % 10000
        return 1900 <= y <= 2200 and 1 <= m <= 12 and 1 <= d <= 31

    if all(1900 <= v <= 2200 for v in vals):
        return "year"
    if all(10**7 <= v < 10**8 and ok_yyyymmdd(v) for v in vals):
        return "yyyymmdd"
    if all(10**7 <= v < 10**8 and ok_mmddyyyy(v) for v in vals):
        return "mmddyyyy"
    # epoch ranges: seconds ~ [1980, 2100] → [3.2e8, 4.1e9]; ms from 1e10
    # (past any real date in seconds) to 2100
    if all(3 * 10**8 < v < 4.2 * 10**9 for v in vals):
        return "epoch_s"
    if all(10**10 < v < 4.2 * 10**12 for v in vals):
        return "epoch_ms"
    return None


def detect_date_format(df: DataFrame, col: str, sample_n: int = 1000) -> dict:
    """Driver-side planning probe: sample non-null values and pick a parse
    strategy. Returns {'kind': ..., 'formats': [...]} consumed by
    `to_datetime_expr`. One small job (limit → collect), never a full scan —
    the analog of the reference's probes (socrata.py:524-636,
    datetime_parser.py:14-203)."""
    dtype = dict(df.dtypes).get(col, "")
    if dtype.startswith(("timestamp", "date")):
        return {"kind": "native"}
    rows = (
        df.select(F.col(col).alias("v"))
        .where(F.col("v").isNotNull())
        .limit(sample_n)
        .collect()
    )
    return _strategy_from_values(dtype, [r.v for r in rows])


def _strategy_from_values(dtype: str, vals: list) -> dict:
    """`detect_date_format`'s vote over already-sampled non-null values
    of a column whose Spark type string is `dtype`. The vote depends on
    the multiset of values, not their order."""
    if dtype in ("int", "bigint", "smallint", "double", "float"):
        vals = [int(v) for v in vals if v is not None]
        kind = _classify_numeric(vals)
        if kind:
            return {"kind": kind}
        # no numeric reading (20220000: unknown day): the digits vote as text
    # string column: vote across candidate formats
    fmts: list[str] = []
    svals = [str(v).strip() for v in vals if str(v).strip()]
    # glued 8-digit strings are ambiguous (yyyymmdd vs mmddyyyy): decide by
    # digit-range validity, like the numeric branch (datetime_parser.py:44-118)
    if svals and all(re.match(r"^\d{8}$", v) for v in svals):
        def ok_ymd(v):
            return (1900 <= int(v[:4]) <= 2200 and 1 <= int(v[4:6]) <= 12
                    and 1 <= int(v[6:]) <= 31)

        def ok_mdy(v):
            return (1 <= int(v[:2]) <= 12 and 1 <= int(v[2:4]) <= 31
                    and 1900 <= int(v[4:]) <= 2200)

        # digit-position validity, on the STRING (leading zeros survive)
        if all(ok_ymd(v) for v in svals):
            return {"kind": "yyyymmdd"}
        if all(ok_mdy(v) for v in svals):
            return {"kind": "mmddyyyy"}
    for rx, fmt in STRING_FORMATS:
        p = re.compile(rx)
        n = sum(1 for v in svals if p.match(v))
        if n and n >= 0.5 * len(svals):
            fmts.append(fmt)
    masked = any(re.match(r"^\d{4}[-/]_+[-/]_+", v) for v in svals)
    if fmts or masked:
        return {"kind": "string", "formats": fmts, "masked": masked}
    if svals and all(re.match(r"^\d{4}$", v) for v in svals):
        return {"kind": "year"}
    if svals and all(re.match(r"^\d{4}-\d{2}$", v) for v in svals):
        return {"kind": "year_month"}
    # 'YYYY Q#' quarters (reference datetime_parser.py:600-616 → Period Q;
    # also the Socrata yyyyq WHERE dialect, socrata.py:404-419)
    if svals and all(re.match(r"^\d{4}\s*Q[1-4]$", v, re.I) for v in svals):
        return {"kind": "year_quarter"}
    return {"kind": "unknown"}


def _make_ts(year: str, month: str = "1", day: str = "1") -> str:
    return f"make_timestamp({year}, {month}, {day}, 0, 0, 0)"


def to_datetime_sql(ref: str, strategy: Optional[dict] = None,
                    formats: Optional[list[str]] = None) -> str:
    """Vectorized conversion to timestamp using a detected strategy
    (reference `to_datetime` datetime_parser.py:530-757 → one coalesce of
    try_to_timestamp attempts; no row-wise Python), as SQL over ``ref``."""
    if formats is not None:
        strategy = {"kind": "string", "formats": formats}
    strategy = strategy or {}
    kind = strategy.get("kind", "unknown")
    if kind == "native":
        return f"CAST({ref} AS TIMESTAMP)"
    if kind == "year":
        return _make_ts(f"CAST({ref} AS INT)")
    if kind == "year_month":
        s = f"CAST({ref} AS STRING)"
        return _make_ts(f"CAST(substring({s}, 1, 4) AS INT)",
                        f"CAST(substring({s}, 6, 2) AS INT)")
    if kind == "year_quarter":
        s_q = f"upper(trim(CAST({ref} AS STRING)))"
        q = f"CAST(regexp_extract({s_q}, {lit('Q([1-4])$')}, 1) AS INT)"
        return _make_ts(f"CAST(substring({s_q}, 1, 4) AS INT)",
                        f"({q} - 1) * 3 + 1")
    if kind == "yyyymmdd":
        v = f"CAST({ref} AS BIGINT)"
        return _make_ts(f"CAST({v} / 10000 AS INT)",
                        f"CAST({v} / 100 % 100 AS INT)",
                        f"CAST({v} % 100 AS INT)")
    if kind == "mmddyyyy":
        v = f"CAST({ref} AS BIGINT)"
        return _make_ts(f"CAST({v} % 10000 AS INT)",
                        f"CAST({v} / 1000000 AS INT)",
                        f"CAST({v} / 10000 % 100 AS INT)")
    if kind == "epoch_s":
        return f"timestamp_seconds(CAST({ref} AS BIGINT))"
    if kind == "epoch_ms":
        return f"timestamp_millis(CAST({ref} AS BIGINT))"
    # string with known formats, or unknown → try the whole candidate list
    fmts = strategy.get("formats") or [f for _, f in STRING_FORMATS]
    s = f"trim(CAST({ref} AS STRING))"
    # comma-separated date LISTS take the first entry (reference
    # datetime_parser.py:698-706). Only trigger on an actual list of
    # slash/dash dates — a loose `anything,digit` test would truncate
    # 'Jan 15, 2024' to 'Jan 15' and break the MMM d, yyyy formats.
    date_list = lit(r"^\d{1,4}[-/]\d{1,2}[-/]\d{1,4}\s*,\s*\d{1,4}[-/]")
    s = (f"CASE WHEN {s} RLIKE {date_list} "
         f"THEN trim(split({s}, {lit(',')}, -1)[0]) ELSE {s} END")
    # the vote's month-name forms accept 'Sept.', which no Java month
    # pattern reads: parse it as 'Sep.'
    s = f"regexp_replace({s}, {lit(_SEPT)}, {lit('$1')})"
    attempts = []
    for f in fmts:
        if f == "__hours__":
            # '11/05/2025 1430 hours' → strip suffix, parse M/d/yyyy HHmm
            hours = lit(r"(?i)\s*(hours|hrs)\.?$")
            cleaned = f"regexp_replace({s}, {hours}, {lit('')})"
            attempts.append(f"try_to_timestamp({cleaned}, {lit('M/d/yyyy HHmm')})")
        else:
            attempts.append(f"try_to_timestamp({s}, {lit(f)})")
    attempts.append(f"try_to_timestamp({s})")  # ISO fallback
    # masked partial dates '2023-__-__' floor to Jan-1 (year precision;
    # reference datetime_parser.py:643-652 → Period)
    attempts.append(
        f"CASE WHEN {s} RLIKE {lit(_MASKED)} "
        f"THEN {_make_ts(f'CAST(substring({s}, 1, 4) AS INT)')} END")
    # trailing Z / fractional seconds: normalize then ISO-parse
    attempts.append(
        f"try_to_timestamp(regexp_replace({s}, {lit('[Zz]$')}, {lit('')}))")
    return f"coalesce({', '.join(attempts)})"


def to_datetime_expr(col: ColumnOrName, strategy: Optional[dict] = None,
                     formats: Optional[list[str]] = None) -> Column:
    return bind(lambda r: to_datetime_sql(r, strategy, formats), col)


# masked partial dates: '2023-__-__'
_MASKED = r"^\d{4}[-/]_+[-/]_+"
_SEPT = r"(?i)^(sep)t(?=[.\s])"


# --------------------------------------------------------------------------
# time of day
# --------------------------------------------------------------------------


_TIME_RX = {
    "date_t": r"^\d{4}-\d{2}-\d{2}T",
    "delim": r"[;.](?=\d{2}(:|$))",
    "ampm": r"^\d{1,2}(:\d{2})?(:\d{2})?\s*[AP]\.?M\.?$",
    "hour": r"^(\d{1,2})",
    "minute": r":(\d{2})",
    "pm": r"P\.?M\.?$",
    "colon": r"^\d{1,2}:\d{2}(:\d{2})?$",
    "hhmm": r"^\d{1,4}$",
}


def parse_time_sql(ref: str) -> str:
    """Parse a time-of-day column to *seconds since midnight* (int).

    Handles (reference `parse_time` datetime_parser.py:382-527):
    HHMM integers (2400→0; 9999/999 error codes→null), 'HH:MM(:SS)' strings
    (';'/'.' typo delimiters), 'h:mm AM/PM' (12AM→0, typo '13PM'), embedded
    'T' datetime fragments, junk → null.
    """
    rx = {k: lit(v) for k, v in _TIME_RX.items()}
    s = f"upper(trim(CAST({ref} AS STRING)))"
    # strip a leading date + 'T' (embedded datetime)
    s = f"regexp_replace({s}, {rx['date_t']}, {lit('')})"
    # normalize typo delimiters ; . → :
    s = f"regexp_replace({s}, {rx['delim']}, {lit(':')})"

    is_ampm = f"{s} RLIKE {rx['ampm']}"
    ampm_h = f"TRY_CAST(regexp_extract({s}, {rx['hour']}, 1) AS INT)"
    ampm_m = f"coalesce(TRY_CAST(regexp_extract({s}, {rx['minute']}, 1) AS INT), 0)"
    is_pm = f"{s} RLIKE {rx['pm']}"
    h12 = (f"CASE WHEN {is_pm} AND {ampm_h} < 12 THEN {ampm_h} + 12 "
           f"WHEN NOT ({is_pm}) AND {ampm_h} = 12 THEN 0 "
           f"WHEN {ampm_h} = 13 THEN 13 "  # '13PM' typo → 13 (reference keeps hour)
           f"ELSE {ampm_h} END")
    ampm_secs = f"({h12}) * 3600 + {ampm_m} * 60"

    is_colon = f"{s} RLIKE {rx['colon']}"
    parts = f"split({s}, {lit(':')}, -1)"
    c_h = f"TRY_CAST(try_element_at({parts}, 1) AS INT)"
    c_m = f"coalesce(TRY_CAST(try_element_at({parts}, 2) AS INT), 0)"
    c_s = f"coalesce(TRY_CAST(try_element_at({parts}, 3) AS INT), 0)"
    colon_secs = f"{c_h} * 3600 + {c_m} * 60 + {c_s}"

    is_hhmm = f"{s} RLIKE {rx['hhmm']}"
    v = f"TRY_CAST({s} AS INT)"  # try_cast: ANSI mode errors on junk strings
    hh = f"CAST({v} / 100 AS INT)"
    mm = f"{v} % 100"
    hhmm_secs = (f"CASE WHEN {v} = 2400 THEN 0 "
                 f"WHEN {v} = 9999 OR {v} = 999 THEN NULL "
                 f"WHEN {hh} <= 23 AND {mm} <= 59 THEN {hh} * 3600 + {mm} * 60 "
                 f"ELSE NULL END")

    ampm_ok = conj(is_ampm, f"({h12}) <= 23", f"{ampm_m} <= 59")
    colon_ok = conj(is_colon, f"{c_h} <= 23", f"{c_m} <= 59", f"{c_s} <= 59")
    return (f"CAST(CASE WHEN {ref} IS NULL THEN NULL "
            f"WHEN {ampm_ok} THEN {ampm_secs} "
            f"WHEN {colon_ok} THEN {colon_secs} "
            f"WHEN {is_hhmm} THEN {hhmm_secs} "
            f"ELSE NULL END AS INT)")


def parse_time_expr(col: ColumnOrName) -> Column:
    return bind(parse_time_sql, col)


def merge_date_time_sql(date_ref: str, secs_ref: str,
                        empty_time: str = "nat") -> str:
    """date + seconds-since-midnight → timestamp (reference
    `merge_date_and_time` datetime_parser.py:206-228). ``empty_time='nat'``
    nulls rows lacking a time; ``'ignore'`` keeps the bare date."""
    if empty_time.lower() not in ("nat", "ignore"):
        raise ValueError(
            f"empty_time must be 'nat' or 'ignore', got {empty_time!r}")
    date_ts = f"CAST({date_ref} AS TIMESTAMP)"
    merged = (f"timestamp_seconds(unix_timestamp({date_ts}, "
              f"{lit('yyyy-MM-dd HH:mm:ss')}) + CAST({secs_ref} AS BIGINT))")
    unset = "NULL" if empty_time.lower() == "nat" else date_ts
    return f"CASE WHEN {secs_ref} IS NULL THEN {unset} ELSE {merged} END"


def merge_date_time_expr(date_col: ColumnOrName, time_secs: ColumnOrName,
                         empty_time: str = "nat") -> Column:
    return bind(lambda d, t: merge_date_time_sql(d, t, empty_time),
                date_col, time_secs)


def date_precision_row_sql(ref: str, strategy: Optional[dict] = None) -> str:
    """PER-ROW precision for string columns that mix full and masked dates:
    '2023-__-__' rows are year-precision, the rest day-precision."""
    return (f"CASE WHEN trim(CAST({ref} AS STRING)) RLIKE {lit(_MASKED)} "
            f"THEN {lit('year')} ELSE {date_precision_sql(strategy)} END")


def date_precision_row_expr(raw: ColumnOrName,
                            strategy: Optional[dict] = None) -> Column:
    return bind(lambda r: date_precision_row_sql(r, strategy), raw)


def date_precision_sql(strategy: Optional[dict] = None) -> str:
    """Companion DATE_PRECISION value for the (date, precision) encoding of
    pd.Period semantics (SURVEY §1.3; reference stores Period('Y'/'M'/'Q')
    for partial dates, data.py:1881-1894). Precision is a property of the
    detected column strategy: 'year' and 'year_month' columns floor to
    Jan-1 / day-1, everything else is day-or-finer."""
    kind = (strategy or {}).get("kind", "unknown")
    return lit({"year": "year", "year_month": "month",
                "year_quarter": "quarter"}.get(kind, "day"))


def date_precision_expr(strategy: Optional[dict] = None) -> Column:
    return column(date_precision_sql(strategy))


_PRECISION_MONTHS = {"day": 0, "month": 1, "quarter": 3, "year": 12}


def period_overlap_filter(date_col: Column, precision_col: Column,
                          start: str, stop: str) -> Column:
    """Filter respecting period semantics: a year-precision value
    2020-01-01 matches any range intersecting calendar-2020 (reference
    interval containment, data.py:1337-1356). ``start``/``stop`` are days,
    stop inclusive: a period ``[p, p + length)`` overlaps when
    ``p < stop + 1 day AND p + length > start``; a day-precision value is a
    point, ``start <= p < stop + 1 day``."""
    start_ts = F.lit(start).cast("date").cast("timestamp_ntz")
    stop_excl = F.date_add(F.lit(stop).cast("date"), 1).cast("timestamp_ntz")
    months = F.coalesce(
        *[F.when(precision_col == k, F.lit(v))
          for k, v in _PRECISION_MONTHS.items()],
        F.lit(0),
    )
    after_start = F.when(
        months > 0, F.timestamp_add("MONTH", months, date_col) > start_ts,
    ).otherwise(date_col >= start_ts)
    return (date_col < stop_excl) & after_start


def date_range_filter(col: Column, strategy: dict,
                      rng: list[_dt.datetime]) -> Column:
    """The loaders' one date-range predicate: ``col``, stored as the
    `detect_date_format` ``strategy`` says, within ``rng = [start, stop]``
    (`clean_date_input` days, stop inclusive). A native column compares raw,
    ``col >= start AND col < stop + 1 day``, so it stays a pushed scan
    filter; any other column is parsed (`to_datetime_expr`) and matched by
    `period_overlap_filter`."""
    start, stop = rng
    if strategy.get("kind") == "native":
        return (col >= F.lit(start)) & (
            col < F.lit(stop + _dt.timedelta(days=1)))
    precision = (date_precision_row_expr(col, strategy)
                 if strategy.get("masked") else date_precision_expr(strategy))
    return period_overlap_filter(to_datetime_expr(col, strategy), precision,
                                 start.strftime("%Y-%m-%d"),
                                 stop.strftime("%Y-%m-%d"))
