"""Loader ABC and shared date/agency filter semantics.

Parity target: /root/reference/openpolicedata/data_loaders/data_loader.py —
`Data_Loader` ABC (data_loader.py:297-378), `_clean_date_input`
(data_loader.py:69-101), `_filter_dataframe` (data_loader.py:120-191),
`_process_date` (data_loader.py:104-117).

Spark mapping: the reference filters a loaded pandas frame row-by-row; here
filters are *Column expressions* attached to a lazy DataFrame so Catalyst
pushes them into the scan (PushedFilters on parquet, $where/SQL on portal
readers). The date-input normalization is identical driver-side logic.

Dates go through `functions/datetime`, the one date layer: a loader
classifies its date column once (no job for a native column, else one
sample job), then filters with `date_range_filter`.
"""

from __future__ import annotations

import datetime as _dt
import numbers
import warnings
from abc import ABC, abstractmethod
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openpolicedata_spark import defs
from openpolicedata_spark.functions.datetime import (
    date_range_filter,
    detect_date_format,
    to_datetime_expr,
)

DateInput = int | str | _dt.date | _dt.datetime | Sequence | None


def clean_date_input(date: DateInput) -> Optional[list[_dt.datetime]]:
    """Normalize a date filter request into ``[start, stop]`` datetimes
    (reference data_loader.py:69-101).

    Accepted: None / MULTI / NA sentinels → None; a single year (int or
    digit-string) → [Jan 1, Dec 31]; a single date → [d, d]; a length-2 list
    mixing years/dates/datetimes. Times are floored to midnight with a
    warning (the reference ignores times in filters).
    """
    if date is None or (isinstance(date, str) and date in (defs.MULTI, defs.NA)):
        return None

    vals = list(date) if isinstance(date, (list, tuple)) else [date, date]
    if len(vals) != 2:
        raise ValueError("List of start/stop dates must have length 2")

    out: list[_dt.datetime] = []
    for k, v in enumerate(vals):
        if isinstance(v, str) and v.isdigit():
            v = int(v)
        if isinstance(v, numbers.Number):
            if 999 < v < 10000 and v == round(v):  # a year
                v = f"{int(v)}-01-01" if k == 0 else f"{int(v)}-12-31"
            else:
                raise ValueError(f"Unable to parse number {v} as a year")
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        elif isinstance(v, _dt.datetime):
            pass
        elif isinstance(v, _dt.date):
            v = _dt.datetime(v.year, v.month, v.day)
        floored = v.replace(hour=0, minute=0, second=0, microsecond=0)
        if floored != v:
            warnings.warn(
                f"Times in date filter requests are ignored. Changing {v} to {floored}"
            )
            v = floored
        out.append(v)

    if out[0] > out[1]:
        raise ValueError(f"Start date must be <= stop date. Invalid input: {date}")
    return out


class DataLoader(ABC):
    """Loader interface (reference data_loader.py:297-378): ``load`` returns a
    lazy DataFrame; ``get_count`` / ``get_years`` / ``get_agencies`` are the
    discovery fast-paths. ``isfile`` distinguishes file-backed sources (local
    filtering) from query-API sources (server-side pushdown).

    ``load`` is the one load step. A loader supplies only ``_scan``, its
    date/agency-filtered rows; ``load`` then applies ``select``, the date
    sort and the ``nrows``/``offset`` window, in that order, for every
    loader."""

    date_field: Optional[str] = None

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._last_count: Optional[tuple] = None  # memo (reference data_loader.py:449-457)
        self._date_strategy: Optional[tuple] = None  # (date_field, strategy) memo

    def _column_strategy(self, df: DataFrame, date_field: str) -> dict:
        """`detect_date_format` of ``date_field``, memoized per loader like
        ``_last_count``: a native timestamp/date column costs no job, any
        other column one sample job (at most 1000 rows) per loader."""
        if self._date_strategy is None or self._date_strategy[0] != date_field:
            self._date_strategy = (date_field, detect_date_format(df, date_field))
        return self._date_strategy[1]

    def filter_dataframe(
        self,
        df: DataFrame,
        date_field: Optional[str] = None,
        date_filter: DateInput = None,
        agency_field: Optional[str] = None,
        agency: Optional[str] = None,
    ) -> DataFrame:
        """Apply agency + date filters (reference data_loader.py:120-191) as
        lazy Column predicates; the date filter is `date_range_filter` under
        the column's memoized `_column_strategy`."""
        date_range = clean_date_input(date_filter)
        out = df
        if agency:
            if not agency_field:
                raise ValueError("Agency filtering requested but no agency field was provided")
            out = out.filter(F.col(agency_field) == agency)
        if date_range is not None:
            if not date_field:
                raise ValueError("Date filtering requested but no date field was provided")
            # classified before the agency filter: one memo serves every agency
            strategy = self._column_strategy(df, date_field)
            out = out.filter(date_range_filter(F.col(date_field), strategy, date_range))
        return out

    @abstractmethod
    def isfile(self) -> bool: ...

    @abstractmethod
    def _scan(self, date: DateInput, agency: Optional[str],
              columns: Optional[list[str]],
              window: Optional[tuple[Optional[int], int]],
              ) -> tuple[DataFrame, bool]:
        """The loader's rows filtered by ``date`` and ``agency``, and whether
        they are already cut to ``window``. ``columns`` are the columns the
        load step reads (the selection plus the sort key), None for all; a
        scan may push them to its source. ``window`` is ``(nrows, offset)``
        when the load asks for no sort, else None; a scan may push it only
        when the rows it returns are exactly that window."""

    def load(
        self,
        date: DateInput = None,
        nrows: Optional[int] = None,
        offset: int = 0,
        *,
        agency: Optional[str] = None,
        select: Optional[list[str]] = None,
        sortby: Optional[str] = None,
    ) -> DataFrame:
        """Filtered rows → ``select`` → date sort → ``nrows``/``offset``
        window (reference data_loader.py:381-439). ``sortby="date"`` orders
        by the loader's ``date_field`` read as a date (`_date_sort_keys`);
        any other value, or a loader with no date column, raises before
        anything is read."""
        if sortby is not None:
            if sortby != "date":
                raise ValueError(f"sortby must be 'date' or None, not {sortby!r}")
            if not self.date_field:
                raise ValueError(
                    f"sortby='date' needs a date column; {type(self).__name__} "
                    f"has none: sort the result explicitly")
        columns = None
        if select:
            columns = list(select)
            if sortby and self.date_field not in columns:
                columns.append(self.date_field)
        df, windowed = self._scan(date, agency, columns,
                                  None if sortby else (nrows, offset))
        keys = self._date_sort_keys(df) if sortby else None
        if select:
            df = df.select(*select)
        if keys:
            df = df.orderBy(*keys)
        if not windowed:
            df = apply_limit_offset(df, nrows, offset)
        return df

    def _sort_strategy(self, df: DataFrame) -> Optional[dict]:
        """The date-layer strategy the date sort parses ``date_field``
        with; None sorts the raw values."""
        return self._column_strategy(df, self.date_field)

    def _date_sort_keys(self, df: DataFrame) -> list:
        """The date sort: the date layer's parse of ``date_field`` (so a
        text date column sorts by date, not as text), then the raw value
        as a tiebreak."""
        raw = F.col(self.date_field)
        strategy = self._sort_strategy(df)
        return [raw] if strategy is None else [
            to_datetime_expr(raw, strategy), raw]

    def get_count(self, date: DateInput = None, *, agency: Optional[str] = None,
                  force: bool = False) -> int:
        """Row count with memoization (reference data_loader.py:449-457).
        Subclasses with server-side count pushdown override the slow path."""
        key = (repr(date), agency)
        if not force and self._last_count and self._last_count[0] == key:
            return self._last_count[1]
        n = self.load(date=date, agency=agency).count()
        self._last_count = (key, n)
        return n

    def get_years(self, date_field: Optional[str] = None, *, force: bool = False) -> list[int]:
        """Distinct years present. The reference probes the portal year by
        year with sleeps (data_loader.py:324-378); for loaded data one
        distinct-aggregate query replaces the N-request loop (SURVEY §2.4)."""
        if date_field is None:
            raise ValueError("date_field required for get_years")
        df = self.load()
        strategy = self._column_strategy(df, date_field)
        col = F.year(to_datetime_expr(F.col(date_field), strategy))
        rows = df.select(col.alias("y")).where(F.col("y").isNotNull()).distinct().collect()
        return sorted(r.y for r in rows)

    def get_agencies(self, agency_field: str, partial: Optional[str] = None) -> list[str]:
        """Distinct agency values, optionally LIKE-filtered
        (reference data.py:963-1053, socrata.py:464-472)."""
        df = self.load().select(F.col(agency_field).alias("a")).where(F.col("a").isNotNull())
        if partial:
            df = df.filter(F.lower("a").contains(partial.lower()))
        return sorted(r.a for r in df.distinct().collect())


def apply_limit_offset(df: DataFrame, nrows: Optional[int], offset: int) -> DataFrame:
    """nrows/offset semantics on every load (reference data_loader.py:381-439).
    Spark 3.4+ has a logical OFFSET; combined with LIMIT both are planned
    into the scan where the source supports it."""
    if offset:
        df = df.offset(offset)
    if nrows is not None:
        df = df.limit(nrows)
    return df
