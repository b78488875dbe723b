"""DataLoader bridge over the portal Python Data Sources.

`Source.load(...)` (reference data.py:1165-1219) routes here for REST
DataTypes. The loader supplies the scan of the one load step,
`DataLoader.load`: it builds the pushdown options (date WHERE, static
query predicates, agency equality, the columns — reference
data.py:1372-1436) in `_options`, which `load_stream` shares, reads
through ``spark.read.format("opd_<portal>")``, and re-applies the exact
date filter locally when the pushed clause was inaccurate (reference
`_filter_inaccurate_date_query`, data_loader.py:41-66). The date column
is fetched whenever that residual filter or ``sortby="date"`` needs it.
The ``nrows``/``offset`` window reaches the server only when the pushed
clauses are exact and no sort is asked for; a sorted or re-filtered
window fetches the whole filtered table and is cut locally after the
sort, as a file loader reads its whole file.

`RestLoader.load` returns the portal scan itself: every action on it
pages the portal again, and Catalyst pushes later filters into it.
`Source.load` binds that scan once per Table
(``localCheckpoint(eager=False)``), so a loaded Table is a snapshot: its
first action fetches every page once, and later actions (the
standardize sample, expand, merge, the write) read the stored rows. A
preview (``show``, ``Table.to_pandas(max_rows=…)``) therefore fetches
the whole filtered table, as the reference's pandas load does; bound it
with ``nrows=``. A filter added later on ``Table.table`` runs on the
snapshot and does not reach the portal; push it through ``date=``,
``agency=`` or ``nrows=``. ``load_stream`` is never bound.
"""

from __future__ import annotations

import datetime as _dt

import json
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openpolicedata_spark import defs
from openpolicedata_spark.functions.datetime import date_range_filter
from openpolicedata_spark.sources.base import (
    DataLoader,
    DateInput,
    clean_date_input,
)
from openpolicedata_spark.sources.portals.where import (
    STRATEGY_OF_FORMAT,
    DateFormat,
    Where,
    and_wheres,
    build_agency_where,
    build_date_where,
    build_equals_where,
)
from openpolicedata_spark.sources.portals.transport import encode_transport

_registered_sessions: set[int] = set()


def _ensure_registered(spark: SparkSession) -> None:
    sid = id(spark)
    if sid in _registered_sessions:
        return
    from openpolicedata_spark.sources.portals.arcgis import ArcgisDataSource
    from openpolicedata_spark.sources.portals.carto import CartoDataSource
    from openpolicedata_spark.sources.portals.ckan import CkanDataSource
    from openpolicedata_spark.sources.portals.ods import OdsDataSource
    from openpolicedata_spark.sources.portals.socrata import SocrataDataSource

    for cls in (SocrataDataSource, ArcgisDataSource, CkanDataSource,
                CartoDataSource, OdsDataSource):
        spark.dataSource.register(cls)
    _registered_sessions.add(sid)


class RestLoader(DataLoader):
    """Generic portal loader: one subclass-free class parameterized by the
    data-source format name + client factory (the per-portal WHERE dialects
    live in portals/where.py)."""

    format_name: str

    def __init__(self, spark: SparkSession, *, format_name: str, url: str,
                 dataset: str = "", date_field: Optional[str] = None,
                 agency_field: Optional[str] = None,
                 date_format: str = DateFormat.TIMESTAMP.value,
                 query: Optional[dict] = None,
                 page_size: Optional[int] = None,
                 transport=None):
        super().__init__(spark)
        _ensure_registered(spark)
        self.format_name = format_name
        self.url = url
        self.dataset = dataset or ""
        self.date_field = date_field
        self.agency_field = agency_field
        # 'auto' defers to a one-page driver-side probe (portals/probe.py,
        # the reference's __date_format_search re-expressed)
        self._date_format: Optional[DateFormat] = (
            None if date_format == "auto" else DateFormat(date_format))
        self.query = query or {}
        self.page_size = page_size
        self.transport_pickle: Optional[str] = (
            encode_transport(transport) if transport is not None else None)

    def isfile(self) -> bool:
        return False

    @property
    def date_format(self) -> DateFormat:
        if self._date_format is None:
            from openpolicedata_spark.sources.portals.probe import probe_date_format

            fmt = None
            if self.date_field:
                fmt = probe_date_format(self._client(), self.date_field)
            self._date_format = fmt or DateFormat.TIMESTAMP
        return self._date_format

    # -- client (driver-side fast paths) ------------------------------------
    def _client(self):
        from openpolicedata_spark.sources.portals.transport import resolve_transport

        opts = self._base_options()
        from openpolicedata_spark.sources.portals import FORMAT_TO_SOURCE

        cls = FORMAT_TO_SOURCE[self.format_name]
        return cls.make_client(opts, resolve_transport(opts))

    def _base_options(self) -> dict:
        opts = {"url": self.url, "dataset": self.dataset}
        if self.transport_pickle:
            opts["transport_pickle"] = self.transport_pickle
        return opts

    # -- WHERE construction --------------------------------------------------
    def _static_where(self, dialect) -> Optional[str]:
        parts = [build_equals_where(k, v, dialect).clause
                 for k, v in self.query.items()]
        return and_wheres(*parts) if parts else None

    def _wheres(self, date, agency, dialect) -> tuple[list[Where], bool]:
        """(clauses, accurate). Mirrors per-loader `__construct_where`."""
        rng = clean_date_input(date)
        parts_static = [self._static_where(dialect)]
        if agency and self.agency_field:
            parts_static.append(build_agency_where(self.agency_field, agency, dialect).clause)
        static = and_wheres(*[p for p in parts_static if p])
        if rng is None or self.date_field is None:
            return ([Where(static)] if static else [Where(None)]), True  # type: ignore[arg-type]
        dws = build_date_where(self.date_field, rng[0], rng[1],
                               self.date_format, dialect)
        accurate = all(w.accurate for w in dws)
        return ([Where(and_wheres(w.clause, static), w.accurate) for w in dws],
                accurate)

    # -- load ----------------------------------------------------------------
    def _options(self, date: DateInput, agency: Optional[str],
                 columns: Optional[list[str]]) -> tuple[dict, bool]:
        """Reader options for one filtered read, and whether its pushed
        clauses are exact. Several clauses (text-date LIKE families) stay
        separate so each gets its own count and partitions, encoded as
        JSON. Inexact clauses fetch the date column too: the exact date
        filter then runs locally (reference data_loader.py:41-66)."""
        opts = self._base_options()
        wheres, accurate = self._wheres(date, agency, self._client().dialect)
        clauses = [w.clause for w in wheres if w.clause]
        if len(clauses) == 1:
            opts["where"] = clauses[0]
        elif clauses:
            opts["wheres_json"] = json.dumps(clauses)
        if columns and not accurate and self.date_field not in columns:
            columns = [*columns, self.date_field]
        if columns:
            opts["select"] = ", ".join(columns)
        if self.page_size:
            opts["page_size"] = str(self.page_size)
        return opts, accurate

    def _scan(self, date, agency, columns, window):
        """The portal read with the filters pushed. The window is pushed
        only when the clauses are exact and no sort is asked for:
        otherwise the residual filter or the sort changes row positions."""
        opts, accurate = self._options(date, agency, columns)
        pushed = accurate and window is not None
        if pushed:
            nrows, offset = window
            if nrows is not None:
                opts["nrows"] = str(nrows)
            if offset:
                opts["offset"] = str(offset)
        df = self.spark.read.format(self.format_name).options(**opts).load()
        if not accurate:
            df = self._residual_date_filter(df, date)
        return df, pushed

    def load_stream(self, date: DateInput = None, *,
                    agency: Optional[str] = None,
                    select: Optional[list[str]] = None) -> DataFrame:
        """STREAMING portal ingest (round 13 — the incremental face of
        `load`, via the Python streaming data source API): returns a
        streaming DataFrame whose micro-batches page through the
        portal in its stable order, the committed row offset living in
        the query checkpoint — so a scheduled `trigger(availableNow)`
        drain (or a long-running processing-time trigger) ingests each
        portal row exactly once across restarts, fetching ONLY rows
        beyond the last committed offset. Filters must be ACCURATE
        (single-clause) — the text-date LIKE families and residual
        re-filters would break the linear offset, so they raise here;
        an availableNow drain advances one page per trigger (loop to
        catch a backlog up — semantics in PortalStreamReader)."""
        opts, accurate = self._options(date, agency, select)
        if not accurate:
            raise ValueError(
                "load_stream needs an ACCURATE pushed filter (the "
                "residual re-filter would change row positions and "
                "break the stream's linear offset); use a timestamp "
                "date_format or filter downstream")
        if "wheres_json" in opts:
            raise ValueError(
                "load_stream supports at most one WHERE clause "
                f"(got {len(json.loads(opts['wheres_json']))})")
        df = (self.spark.readStream.format(self.format_name)
              .options(**opts).load())
        if select:
            df = df.select(*select)
        return df

    def _sort_strategy(self, df: DataFrame) -> Optional[dict]:
        """The date sort parses the text formats the residual filter
        parses (no sample job); every other `DateFormat` already sorts
        in date order raw."""
        return STRATEGY_OF_FORMAT.get(self.date_format)

    def _residual_date_filter(self, df: DataFrame, date: DateInput) -> DataFrame:
        """Exact re-filter after inaccurate pushdown: the date layer's
        `date_range_filter`, under the strategy of the column's DateFormat,
        as a file loader filters. A year or '2020 Q1' value matches by
        *period overlap* — the reference's pd.Period semantics
        (data.py:1868-1960); a day value by the half-open day range."""
        rng = clean_date_input(date)
        if rng is None or self.date_field is None:
            return df
        return df.where(date_range_filter(
            F.col(self.date_field), STRATEGY_OF_FORMAT[self.date_format], rng))

    # -- fast paths -----------------------------------------------------------
    def get_count(self, date: DateInput = None, *, agency: Optional[str] = None,
                  force: bool = False) -> int:
        """Server-side count(*) pushdown, no Spark job (reference
        socrata.py:162-232 et al., memo data_loader.py:449-457)."""
        key = (repr(date), agency)
        if not force and self._last_count and self._last_count[0] == key:
            return self._last_count[1]
        client = self._client()
        wheres, accurate = self._wheres(date, agency, client.dialect)
        if accurate:
            n = sum(client.count(w.clause) for w in wheres)
        else:
            n = self.load(date=date, agency=agency).count()
        self._last_count = (key, n)
        return n

    def get_years(self, date_field: Optional[str] = None, *,
                  force: bool = False) -> list[int]:
        """Remote year discovery: per-year count probes walking backward
        from the current year with the reference's miss tolerances
        (data_loader.py:324-378: 20-year recent window, 10-year gap)."""
        field = date_field or self.date_field
        if field is None:
            raise ValueError("date_field required")
        client = self._client()
        # the probe must carry the same static catalog predicates count()
        # and load() apply: a dataset shared by several table types via
        # query={'type': ...} would otherwise report years where ANY type
        # has rows, and load(year) for this type then returns empty
        static = self._static_where(client.dialect)
        years: list[int] = []
        misses, year = 0, _dt.date.today().year
        while misses < (20 if not years else 10) and year >= 1900:
            wheres = build_date_where(field, _dt.datetime(year, 1, 1),
                                      _dt.datetime(year, 12, 31),
                                      self.date_format, client.dialect)
            n = sum(client.count(and_wheres(w.clause, static))
                    for w in wheres)
            if n > 0:
                years.append(year)
                misses = 0
            else:
                misses += 1
            year -= 1
        return sorted(years)

    def get_agencies(self, agency_field: str, partial: Optional[str] = None) -> list[str]:
        client = self._client()
        if hasattr(client, "distinct"):
            return client.distinct(agency_field, partial)
        return super().get_agencies(agency_field, partial)


_FORMAT_BY_DATATYPE = {
    defs.DataType.ARCGIS.value: "opd_arcgis",
    defs.DataType.CKAN.value: "opd_ckan",
    defs.DataType.CARTO.value: "opd_carto",
    defs.DataType.OPENDATASOFT.value: "opd_ods",
    defs.DataType.SOCRATA.value: "opd_socrata",
}


def make_rest_loader(spark: SparkSession, data_type: str, row: pd.Series,
                     transport=None) -> RestLoader:
    """Factory from a catalog row (reference data.py:1819-1857) for every
    portal DataType, Socrata included. The loader keeps the row's
    `agency_field` and static `query` predicates. The catalog carries no
    date format, so the loader probes it once (one page request,
    portals/probe.py) at the first use that needs it, as the reference's
    date-format search does."""
    ds = row.get("dataset_id")
    ds = "" if ds is None or (isinstance(ds, float) and pd.isna(ds)) else str(ds)
    q = row.get("query")
    if isinstance(q, str) and q.strip():
        q = json.loads(q)
    return RestLoader(
        spark,
        format_name=_FORMAT_BY_DATATYPE[data_type],
        url=row["URL"],
        dataset=ds,
        date_field=row.get("date_field"),
        agency_field=row.get("agency_field"),
        date_format="auto",
        query=q if isinstance(q, dict) else None,
        transport=transport,
    )
