"""Date-predicate → portal WHERE translation.

Parity with the reference's per-loader `__construct_where` builders:
  Socrata  /root/reference/openpolicedata/data_loaders/socrata.py:79-144
  text-date LIKE generators            socrata.py:332-419
  ArcGIS                               arcgis_class.py:254-292
  CKAN                                 ckan.py:195-259
  Carto                                carto.py:196-217
  Opendatasoft                         opendatasoft.py:202-209

Semantics, not string-for-string: each builder returns a list of
``Where(clause, accurate)``.  ``accurate=False`` means the clause
over-selects (e.g. a year-granularity LIKE for a sub-year range) and the
loader must re-apply the exact date filter after the scan — exactly
Spark's "source may return a superset" contract for pushed filters
(reference `Where.accurate`, data_loader.py:206-214, and residual filter
:41-66). That exact filter is not built here: it is
`functions.datetime.date_range_filter`, the one date-range predicate of
every loader (`RestLoader._residual_date_filter`). This module only
translates a ``[start, stop]`` range into each portal's WHERE dialect, and
maps a date-layer strategy to its ``DateFormat`` and back.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from enum import Enum
from typing import Optional

_MONTH_ABBREV = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
                 "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"]


class DateFormat(str, Enum):
    """Storage format of the portal's date column, as far as it shapes the
    WHERE clause (discovered by the reference's probe queries,
    socrata.py:524-636 / arcgis_class.py:296-361; here by
    portals/probe.py, or given as ``RestLoader(date_format=)``)."""

    TIMESTAMP = "timestamp"          # native timestamp/date column
    EPOCH_MS = "epoch_ms"            # ArcGIS esriFieldTypeDate
    YEAR_NUMERIC = "year"            # integer year column
    YYYYMMDD_TEXT = "yyyymmdd"       # '20220131' (lexicographically ordered)
    MMDDYYYY_TEXT = "mmddyyyy"       # '01/31/2022'
    MONTH_ABBREV_TEXT = "month_abbrev"  # 'Jan 31, 2022'-style, year at end
    YYYYQ_TEXT = "yyyyq"             # '2022 Q1'


# The bridge to the date layer (`functions.datetime`): the DateFormat a
# `detect_date_format` strategy pushes down as (the probe's decision), and
# the strategy that parses each format whose clause can be inaccurate, for
# the residual filter (`RestLoader._residual_date_filter`).
_FORMAT_OF_KIND = {
    "epoch_ms": DateFormat.EPOCH_MS,
    "year": DateFormat.YEAR_NUMERIC,
    "yyyymmdd": DateFormat.YYYYMMDD_TEXT,
    "year_quarter": DateFormat.YYYYQ_TEXT,
}
_FORMAT_OF_PATTERN = {
    "yyyy-MM-dd HH:mm:ss": DateFormat.TIMESTAMP,
    "yyyy-MM-dd['T'][ ]HH:mm": DateFormat.TIMESTAMP,
    "yyyy-MM-dd": DateFormat.TIMESTAMP,
    "yyyyMMdd": DateFormat.YYYYMMDD_TEXT,
    "M/d/yyyy": DateFormat.MMDDYYYY_TEXT,
    "MMM[.] d[,] yyyy": DateFormat.MONTH_ABBREV_TEXT,
    "MMMM[.] d[,] yyyy": DateFormat.MONTH_ABBREV_TEXT,
}
STRATEGY_OF_FORMAT = {
    DateFormat.YEAR_NUMERIC: {"kind": "year"},
    DateFormat.MMDDYYYY_TEXT: {"kind": "string", "formats": ["M/d/yyyy"]},
    DateFormat.MONTH_ABBREV_TEXT: {
        "kind": "string", "formats": ["MMM[.] d[,] yyyy", "MMMM[.] d[,] yyyy"]},
    DateFormat.YYYYQ_TEXT: {"kind": "year_quarter"},
}


def format_of_strategy(strategy: dict) -> Optional[DateFormat]:
    """A kind maps directly, a text column by its first Spark pattern with a
    WHERE form; None when there is none (the loader then assumes TIMESTAMP)."""
    if strategy.get("kind") == "string":
        return next((_FORMAT_OF_PATTERN[f] for f in strategy.get("formats", [])
                     if f in _FORMAT_OF_PATTERN), None)
    return _FORMAT_OF_KIND.get(strategy.get("kind"))


class Dialect(str, Enum):
    SOQL = "soql"        # Socrata
    SQL = "sql"          # CKAN / Carto (PostgreSQL-ish)
    ARCGIS = "arcgis"    # ArcGIS REST `where`
    ODSQL = "odsql"      # Opendatasoft


@dataclass(frozen=True)
class Where:
    clause: str
    accurate: bool = True


def _ident(field: str, dialect: Dialect) -> str:
    if dialect == Dialect.SQL:
        return f'"{field}"'
    return field


def _ts_lit(t: _dt.datetime, dialect: Dialect) -> str:
    if dialect == Dialect.ARCGIS:
        return "TIMESTAMP '" + t.strftime("%Y-%m-%d %H:%M:%S") + "'"
    if dialect == Dialect.ODSQL:
        return "date'" + t.strftime("%Y-%m-%dT%H:%M:%S") + "'"
    # SoQL floating timestamp / SQL literal
    return "'" + t.strftime("%Y-%m-%dT%H:%M:%S") + "'"


def _whole_years(start: _dt.datetime, stop: _dt.datetime) -> Optional[list[int]]:
    """[start, stop] covers whole calendar years → the year list, else None.
    `stop` is inclusive (reference passes Dec-31; data_loader.py:104-117)."""
    if (start.month, start.day, start.hour, start.minute, start.second) != (1, 1, 0, 0, 0):
        return None
    if (stop.month, stop.day) != (12, 31):
        return None
    return list(range(start.year, stop.year + 1))


def build_date_where(
    field: str,
    start: _dt.datetime,
    stop: _dt.datetime,
    fmt: DateFormat,
    dialect: Dialect,
) -> list[Where]:
    """Translate [start, stop] (stop inclusive at day granularity) into the
    portal's WHERE dialect for the given date-column storage format."""
    f = _ident(field, dialect)
    stop_eod = stop.replace(hour=23, minute=59, second=59)
    years = _whole_years(start, stop)

    if fmt in (DateFormat.TIMESTAMP, DateFormat.EPOCH_MS):
        lo, hi = _ts_lit(start, dialect), _ts_lit(stop_eod, dialect)
        if dialect == Dialect.SOQL:
            return [Where(f"{f} between {lo} and {hi}")]
        return [Where(f"{f} >= {lo} AND {f} <= {hi}")]

    if fmt == DateFormat.YEAR_NUMERIC:
        ys = list(range(start.year, stop.year + 1))
        clause = (f"{f} in ({', '.join(map(str, ys))})"
                  if dialect in (Dialect.SOQL, Dialect.ODSQL)
                  else f"{f} IN ({', '.join(map(str, ys))})")
        # exact only when the request is whole years
        return [Where(clause, accurate=years is not None)]

    if fmt == DateFormat.YYYYMMDD_TEXT:
        # zero-padded digits order lexicographically → exact range compare
        lo, hi = start.strftime("%Y%m%d"), stop.strftime("%Y%m%d")
        return [Where(f"{f} >= '{lo}' AND {f} <= '{hi}'")]

    if fmt == DateFormat.MMDDYYYY_TEXT:
        # not lexicographic: one LIKE per year, exact only for whole years
        # (reference __mmddyyyy_where_query, socrata.py:361-378)
        acc = years is not None
        ys = years or list(range(start.year, stop.year + 1))
        return [Where(_like(f, f"%/{y}", dialect), accurate=acc) for y in ys]

    if fmt == DateFormat.MONTH_ABBREV_TEXT:
        # reference __month_abbrev_where_query socrata.py:381-401: one LIKE
        # per (month, year) at month granularity
        import calendar

        clauses = []
        cur = _dt.datetime(start.year, start.month, 1)
        # exact only when stop is the TRUE last day of its month — the old
        # `stop.day >= 28` heuristic claimed accuracy for e.g. Mar 28 and
        # let Mar 29-31 rows leak past the skipped residual filter
        exact_months = (start.day == 1 and
                        stop.day == calendar.monthrange(stop.year,
                                                        stop.month)[1])
        while cur <= stop:
            clauses.append(Where(
                _like(f, f"%{_MONTH_ABBREV[cur.month - 1].title()}%{cur.year}%", dialect),
                accurate=exact_months,
            ))
            cur = (_dt.datetime(cur.year + 1, 1, 1) if cur.month == 12
                   else _dt.datetime(cur.year, cur.month + 1, 1))
        return clauses

    if fmt == DateFormat.YYYYQ_TEXT:
        # reference __yyyyq_where_query socrata.py:404-419
        q_lo, q_hi = (start.month - 1) // 3 + 1, (stop.month - 1) // 3 + 1
        import calendar

        # quarter-exact requires stop to be the true quarter-end day
        exact = ((start.month - 1) % 3 == 0 and start.day == 1
                 and stop.month % 3 == 0
                 and stop.day == calendar.monthrange(stop.year,
                                                     stop.month)[1])
        clauses = []
        for y in range(start.year, stop.year + 1):
            qs = range(q_lo if y == start.year else 1,
                       (q_hi if y == stop.year else 4) + 1)
            clauses.extend(
                Where(_like(f, f"{y} Q{q}", dialect, exact_like=True), accurate=exact)
                for q in qs
            )
        return clauses

    raise ValueError(f"unsupported date format {fmt}")


def _like(f: str, pattern: str, dialect: Dialect, exact_like: bool = False) -> str:
    if exact_like and "%" not in pattern:
        return f"{f} = '{pattern}'"
    if dialect == Dialect.ODSQL:
        return f'{f} like "{pattern}"'
    return f"{f} LIKE '{pattern}'"


def build_agency_where(field: str, agency: str, dialect: Dialect) -> Where:
    """Case-insensitive agency equality (reference data.py:1407-1414:
    ``LOWER(field) = '<agency>'`` pushed to Socrata/CKAN)."""
    f = _ident(field, dialect)
    a = agency.lower().replace("'", "''")
    if dialect == Dialect.ARCGIS:
        return Where(f"LOWER({f}) = '{a}'")
    return Where(f"lower({f}) = '{a}'")


def build_equals_where(field: str, value: object, dialect: Dialect) -> Where:
    """Catalog-declared static predicate {col: value} ANDed into every
    request (reference arcgis_class.py:254-257, ckan.py:148-158)."""
    f = _ident(field, dialect)
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        return Where(f"{f} = {value}")
    v = str(value).replace("'", "''")
    return Where(f"{f} = '{v}'")


def and_wheres(*parts: Optional[str]) -> Optional[str]:
    ps = [p for p in parts if p]
    if not ps:
        return None
    return " AND ".join(f"({p})" if " OR " in p.upper() else p for p in ps)
