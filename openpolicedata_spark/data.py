"""User-facing API: ``Source`` (catalog handle + loading) and ``Table``
(a loaded result wrapping a lazy Spark DataFrame).

Parity target: /root/reference/openpolicedata/data.py — `Source` ctor +
disambiguation (data.py:795-867, 1266-1369), `load` (data.py:1165-1219),
discovery (`get_tables_types`/`get_years`/`get_agencies`/`get_count`,
data.py:869-1100), `Table` (data.py:43-213), save/re-load (data.py:397-501,
1438-1626), `merge` (data.py:312-389), `expand` (data.py:578-679).

Spark mapping: `Table.table` is a *lazy* DataFrame — filters, joins,
standardization, and expansion compose into one Catalyst plan; nothing
executes until count/save/collect. At 100 TB this is the difference between
one scan and five. Portal tables are the exception: `Source.load` binds
them as snapshots, fetched once at their first action.
"""

from __future__ import annotations

import datetime as _dt
import os
import re
from typing import Any, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openpolicedata_spark import defs
from openpolicedata_spark.catalog import Catalog
from openpolicedata_spark.sources.base import DataLoader, clean_date_input
from openpolicedata_spark.sources.combined import CombinedLoader
from openpolicedata_spark.sources.file import CsvLoader, ParquetLoader


def _resolve_child_url(base: Optional[str], child: dict) -> Optional[str]:
    """Child URL = explicit url override, else base; a `file` entry joins
    onto it (absolute file URLs win via urljoin semantics)."""
    from urllib.parse import urljoin

    u = child.get("url") or base
    f = child.get("file")
    if f:
        b = (u or "").rstrip("/") + "/"
        return urljoin(b, f)
    return u


def _maybe_combined_loader(spark: SparkSession, dt: str, row: pd.Series,
                           kwargs: dict) -> Optional[DataLoader]:
    """Route a multi-file dataset_id to CombinedLoader (reference parses
    dataset_id at catalog build, datasets.py:62, and multi-file ids load
    through CombinedDataset, combine_dataset.py:9-172). Returns None for
    scalar/single-file ids."""
    from openpolicedata_spark.sources import dataset_id as did

    try:
        expanded = did.expand(did.parse_id(row.get("dataset_id")))
    except (ValueError, TypeError):
        return None
    if not did.is_combined_dataset(expanded):
        return None

    base = row["URL"]

    def make_child(child: dict) -> DataLoader:
        # a `file` entry under a zip URL is a zip MEMBER (reference
        # csv_class.py:64-70 reads it via httpio Range requests), not a
        # path segment to urljoin
        member = None
        child_url = _resolve_child_url(base, child)
        if (child.get("file") and (base or "").lower().endswith(".zip")
                and not (child.get("url") or "")):
            child_url, member = base, child["file"]
        if dt == defs.DataType.EXCEL.value:
            from openpolicedata_spark.sources.excel import ExcelLoader

            return ExcelLoader(spark, sheet_filter=child.get("sheets"),
                               member=member,
                               **dict(kwargs, url=child_url))
        return CsvLoader(spark, member=member,
                         **dict(kwargs, url=child_url))

    def make_side(side) -> DataLoader:
        kids = [make_child(c) for c in side]
        return kids[0] if len(kids) == 1 else CombinedLoader(
            spark, kids, how="concat")

    if expanded and isinstance(expanded[0], list):  # join declaration
        sides = [make_side(s) for s in expanded]
        on = next((c.get("on") for s in expanded for c in s
                   if isinstance(c, dict) and c.get("on")), None)
        return CombinedLoader(spark, sides, how="join", on=on)
    return CombinedLoader(spark, [make_child(c) for c in expanded],
                          how="concat")


def _make_loader(spark: SparkSession, row: pd.Series) -> DataLoader:
    """Loader factory from a catalog row (reference data.py:1819-1857
    `__get_loader`, with a per-source cache kept in Source)."""
    dt = row["DataType"]
    kwargs = dict(
        url=row["URL"],
        date_field=row["date_field"],
        agency_field=row["agency_field"],
        query=row["query"],
    )
    if dt in (defs.DataType.CSV.value, defs.DataType.EXCEL.value):
        # multi-file dataset_ids (lists of {urls/files/sheets/on} dicts,
        # reference datasets.py:62 → CombinedDataset) route to
        # CombinedLoader; scalar ids fall through to the plain loaders
        combined = _maybe_combined_loader(spark, dt, row, kwargs)
        if combined is not None:
            return combined
    if dt == defs.DataType.PARQUET.value:
        return ParquetLoader(spark, **kwargs)
    if dt == defs.DataType.CSV.value:
        return CsvLoader(spark, **kwargs)
    if dt == defs.DataType.JSON.value:
        from openpolicedata_spark.sources.file import JsonLoader

        return JsonLoader(spark, **kwargs)
    if dt == defs.DataType.EXCEL.value:
        from openpolicedata_spark.sources.dataset_id import (
            parse_excel_dataset,
        )
        from openpolicedata_spark.sources.excel import ExcelLoader

        # scalar dataset_id = sheet name(s) or zip member (reference
        # excel.py:70 parse_excel_dataset)
        sheets, member = parse_excel_dataset(
            ".zip" in (row["URL"] or "").lower(), row.get("dataset_id"))
        return ExcelLoader(spark, sheet_filter=sheets, member=member,
                           **kwargs)
    if dt == defs.DataType.HTML.value:
        from openpolicedata_spark.sources.html import HtmlLoader

        return HtmlLoader(spark, **kwargs)
    if dt in (defs.DataType.SOCRATA.value, defs.DataType.ARCGIS.value,
              defs.DataType.CKAN.value, defs.DataType.CARTO.value,
              defs.DataType.OPENDATASOFT.value):
        from openpolicedata_spark.sources import rest

        return rest.make_rest_loader(spark, dt, row)
    raise ValueError(f"Unsupported DataType: {dt}")


class Table:
    """A loaded dataset: lazy Spark DataFrame + catalog metadata +
    standardization state (reference data.py:43-213)."""

    def __init__(
        self,
        table: DataFrame,
        *,
        state: Optional[str] = None,
        source_name: Optional[str] = None,
        agency: Optional[str] = None,
        table_type: Optional[str] = None,
        year: Any = None,
        date_field: Optional[str] = None,
        agency_field: Optional[str] = None,
        url: Optional[str] = None,
    ):
        self.table = table
        self.state = state
        self.source_name = source_name
        self.agency = agency
        self.table_type = table_type
        self.year = year
        self.date_field = date_field
        self.agency_field = agency_field
        self.url = url
        self.is_std = False
        self.transforms: list = []  # DataMapping audit log (reference _preproc_utils.py:10-15)

    # ------------------------------------------------------------- basic ops
    def count(self) -> int:
        return self.table.count()

    def to_pandas(self, max_rows: Optional[int] = 10_000_000) -> pd.DataFrame:
        """Driver-side materialization — same `max_rows` guard as
        to_feather: collecting an unbounded table OOMs the driver long
        before pandas sees it. Pass `max_rows=None` to explicitly accept
        the risk (reference parity: Table.to_csv/pandas paths assume
        single-machine frames)."""
        if max_rows is not None:
            pdf = self.table.limit(max_rows + 1).toPandas()
            if len(pdf) > max_rows:
                raise ValueError(
                    f"to_pandas materializes the whole table on the "
                    f"driver; this table exceeds max_rows={max_rows}. "
                    f"Keep it distributed (Table.table) or pass "
                    f"max_rows=None to override.")
            return pdf
        return self.table.toPandas()

    # ------------------------------------------- standardized-column lookup
    def _first_present(self, *candidates: str) -> Optional[str]:
        cols = set(self.table.columns)
        for c in candidates:
            if c in cols:
                return c
        return None

    def get_race_col(self, role: str = "SUBJECT") -> Optional[str]:
        """Name of the standardized race (RE_GROUP) column for a role
        (reference data.py:215-243): role-specific column first, then the
        combined OFFICER/SUBJECT variant."""
        role = role.upper()
        assert role in ("OFFICER", "SUBJECT")
        C = defs.Columns
        own = C.RE_GROUP_OFFICER if role == "OFFICER" else C.RE_GROUP_SUBJECT
        return self._first_present(own, C.RE_GROUP_OFF_SUB)

    def get_gender_col(self, role: str = "SUBJECT") -> Optional[str]:
        """Name of the standardized gender column for a role
        (reference data.py:245-272)."""
        role = role.upper()
        assert role in ("OFFICER", "SUBJECT")
        C = defs.Columns
        own = C.GENDER_OFFICER if role == "OFFICER" else C.GENDER_SUBJECT
        return self._first_present(own, C.GENDER_OFF_SUB)

    def get_age_col(self, role: str = "SUBJECT") -> Optional[str]:
        """Name of the standardized age column for a role (reference
        data.py:274-310): exact age first, then combined, then age-range
        fallbacks."""
        role = role.upper()
        assert role in ("OFFICER", "SUBJECT")
        C = defs.Columns
        if role == "OFFICER":
            return self._first_present(C.AGE_OFFICER, C.AGE_OFF_SUB,
                                       C.AGE_RANGE_OFFICER, C.AGE_RANGE_OFF_SUB)
        return self._first_present(C.AGE_SUBJECT, C.AGE_OFF_SUB,
                                   C.AGE_RANGE_SUBJECT, C.AGE_RANGE_OFF_SUB)

    def get_transform_map(self, orig: Optional[str] = None,
                          new: Optional[str] = None, minimize: bool = False):
        """Standardization audit: the DataMapping records produced by
        standardize() (reference data.py:548-576). With `orig`/`new`,
        returns the first matching record (or None); otherwise the full
        list. `minimize=True` drops the original value counts."""
        import copy

        result = copy.deepcopy(self.transforms)
        if minimize:
            for r in result:
                r.orig_value_counts = None
        if orig is not None or new is not None:
            for r in result:
                if ((orig is None or r.orig_column_name == orig)
                        and (new is None or r.new_column_name == new)):
                    return r
            return None
        return result

    # ------------------------------------------------------------ transforms
    def standardize(self, **kwargs) -> "Table":
        """Standardize columns/values into the canonical schema
        (reference data.py:682-792 → preproc.standardize). Identification
        runs one sample job (``limit(1000).toPandas()``); the date-format
        probe adds a second only when that sample cannot vote for it (1000
        rows or more, or a float date column). The standardization itself
        is appended as Column expressions and runs with the next action."""
        from openpolicedata_spark.standardize import standardize

        self.table, self.transforms = standardize(
            self.table,
            table_type=self.table_type,
            source_name=self.source_name,
            state=self.state,
            **kwargs,
        )
        self.is_std = True
        return self

    def merge(self, other: "Table", *, on=None, left_on=None, right_on=None,
              how: str = "inner", std_id: bool = False) -> "Table":
        """Join two related tables (reference data.py:312-389); incident-ID
        key auto-detection when no keys given (preproc.py:140-265)."""
        from openpolicedata_spark.operators.merge import merge_tables

        merged_df = merge_tables(
            self.table, other.table, on=on, left_on=left_on,
            right_on=right_on, how=how, std_id=std_id,
        )
        out = Table(
            merged_df,
            state=self.state,
            source_name=self.source_name,
            agency=self.agency,
            table_type=f"{self.table_type}+{other.table_type}",
            year=self.year,
            date_field=self.date_field,
            agency_field=self.agency_field,
        )
        out.is_std = self.is_std and other.is_std
        out.transforms = list(self.transforms) + list(other.transforms)
        return out

    def expand(self, cols: Optional[list[str]] = None, mismatch: str = "nan") -> "Table":
        """One row per person for multi-person array columns
        (reference data.py:578-679)."""
        from openpolicedata_spark.operators.expand import expand

        self.table = expand(self.table, cols=cols, mismatch=mismatch)
        return self

    # ------------------------------------------------------------------ save
    def get_filename(self, ext: str, output_dir: str = ".") -> str:
        """Deterministic filename from identity metadata
        (reference data.py:2105-2157)."""
        parts = [
            self.state, self.source_name, self.agency, self.table_type,
            str(self.year) if self.year is not None else None,
        ]
        stem = "_".join(re.sub(r"[^A-Za-z0-9]+", "-", p) for p in parts if p)
        return os.path.join(output_dir, f"{stem}.{ext}")

    def get_csv_filename(self, output_dir: str = ".") -> str:
        """reference data.py:504-514."""
        return self.get_filename("csv", output_dir)

    def get_feather_filename(self, output_dir: str = ".") -> str:
        """reference data.py:516-530."""
        return self.get_filename("feather", output_dir)

    def get_parquet_filename(self, output_dir: str = ".") -> str:
        """reference data.py:532-546."""
        return self.get_filename("parquet", output_dir)

    def to_parquet(self, path: Optional[str] = None, output_dir: str = ".",
                   mode: str = "overwrite", partition_by: Optional[list[str]] = None) -> str:
        """reference data.py:446-464; partition_by is the scale upgrade —
        writing 100 TB unpartitioned is an anti-pattern."""
        path = path or self.get_filename("parquet", output_dir)
        w = self.table.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return path

    def to_csv(self, path: Optional[str] = None, output_dir: str = ".",
               mode: str = "overwrite") -> str:
        """reference data.py:397-444. Complex-typed columns (the
        array-valued multi-person columns) are JSON-stringified first —
        the Spark CSV writer rejects arrays/maps, and the reference
        likewise coerces dict cells to strings on CSV save
        (data.py:405-420)."""
        from pyspark.sql import types as T

        path = path or self.get_filename("csv", output_dir)
        df = self.table
        for f in df.schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                df = df.withColumn(f.name, F.to_json(F.col(f.name)))
        df.write.mode(mode).option("header", True).csv(path)
        return path

    def to_feather(self, path: Optional[str] = None,
                   output_dir: str = ".",
                   max_rows: Optional[int] = 10_000_000) -> str:
        """Feather sink for reference parity (data.py:425-444). Feather is
        a single-machine format, so this materializes on the driver
        (Arrow-batched toPandas) — use to_parquet for anything large;
        parquet is the distributed path.

        `max_rows` guards the driver: materializing an unbounded table
        OOMs the driver JVM long before the write starts. The default
        (10M rows) is roomy for every reference-shaped table; pass
        `max_rows=None` to explicitly accept the risk on a big driver."""
        path = path or self.get_filename("feather", output_dir)
        if max_rows is not None:
            # ONE pass: pull max_rows+1 rows; overflow by even one row
            # means the table is too big. (A separate count() would run
            # the full plan twice and still not bound driver memory.)
            pdf = self.table.limit(max_rows + 1).toPandas()
            if len(pdf) > max_rows:
                raise ValueError(
                    f"to_feather materializes the whole table on the "
                    f"driver; this table exceeds max_rows={max_rows}. "
                    f"Use to_parquet for large tables, or pass "
                    f"max_rows=None to override.")
        else:
            pdf = self.table.toPandas()
        pdf.to_feather(path)
        return path


class Source:
    """Handle on one source's catalog rows: discovery + loading
    (reference data.py:795-867)."""

    def __init__(
        self,
        source_name: str,
        state: Optional[str] = None,
        agency: Optional[str] = None,
        *,
        catalog: Catalog,
        spark: SparkSession,
    ):
        self.spark = spark
        self.catalog = catalog
        self.datasets = catalog.query(source_name=source_name, state=state, agency=agency)
        if len(self.datasets) == 0:
            raise ValueError(f"No source found matching '{source_name}'")
        states = self.datasets["State"].unique()
        if state is None and len(states) > 1:  # reference data.py:857-865
            from openpolicedata_spark.exceptions import MultiAgencySourceError

            raise MultiAgencySourceError(
                f"Source '{source_name}' exists in multiple states {list(states)}; "
                "pass `state=` to disambiguate"
            )
        self.source_name = source_name
        self.state = states[0]
        self._loader_cache: dict[tuple, DataLoader] = {}

    # -------------------------------------------------------------- discovery
    def get_tables_types(self) -> list[str]:
        """reference data.py:869-883."""
        return sorted(self.datasets["TableType"].dropna().unique())

    def get_years(self, table_type: str, *, force: bool = False) -> list[int]:
        """Years available for a table type (reference data.py:885-960).
        Catalog Year rows give the fast answer; MULTI datasets are resolved
        with ONE distinct-year aggregate instead of the reference's
        per-year count-probe loop with sleeps (data_loader.py:324-378)."""
        import numbers

        rows = self.datasets[self.datasets["TableType"] == table_type]
        years: set[int] = set()
        for _, row in rows.iterrows():
            # numbers.Integral, not int: a csv-loaded catalog's Year column
            # is int64 dtype and row values are np.int64 (isinstance(...,
            # int) is False — every per-year row would be silently skipped)
            if isinstance(row["Year"], numbers.Integral):
                years.add(int(row["Year"]))
            elif row["Year"] == defs.MULTI and row["date_field"]:
                loader = self._get_loader(row)
                years.update(loader.get_years(row["date_field"], force=force))
        return sorted(years)

    def get_agencies(self, table_type: Optional[str] = None,
                     partial_name: Optional[str] = None) -> list[str]:
        """Distinct agencies (reference data.py:963-1053)."""
        rows = self._rows_for(table_type)
        agencies: set[str] = set()
        for _, row in rows.iterrows():
            if row["Agency"] != defs.MULTI:
                if partial_name is None or partial_name.lower() in str(row["Agency"]).lower():
                    agencies.add(row["Agency"])
            elif row["agency_field"]:
                loader = self._get_loader(row)
                agencies.update(loader.get_agencies(row["agency_field"], partial_name))
        return sorted(agencies)

    def get_count(self, table_type: str, date=None, *, agency: Optional[str] = None,
                  force: bool = False) -> int:
        """reference data.py:1056-1100."""
        row = self.filter(table_type, date)
        return self._get_loader(row).get_count(date, agency=agency, force=force)

    # ------------------------------------------------------------ dataset pick
    def check_simple_dataset_filter(self, table_type: str, date=None):
        """Whether url / dataset-id tiebreaks are needed to pick ONE
        dataset for (table_type, date) (reference data.py:1232-1263).
        Returns (url_filter_required, id_filter_required, matched_rows)."""
        rows = self.datasets[self.datasets["TableType"] == table_type]
        if date is not None and len(rows) > 1:
            rng = clean_date_input(date)
            if rng is not None:
                year_rows = rows[rows["Year"].isin(
                    range(rng[0].year, rng[1].year + 1))]
                if len(year_rows):
                    rows = year_rows
        url_diff = rows["URL"].nunique(dropna=False) > 1
        id_diff = rows["dataset_id"].nunique(dropna=False) > 1
        return url_diff, id_diff, rows

    def filter(self, table_type: str, date=None, *, url: Optional[str] = None,
               id: Optional[str] = None) -> pd.Series:
        """Pick exactly one catalog row (reference data.py:1266-1369):
        TableType match, then Year match or coverage-interval containment
        (data.py:1337-1356), then url-substring / dataset-id tiebreaks."""
        rows = self.datasets[self.datasets["TableType"] == table_type]
        if url is not None:
            rows = rows[rows["URL"].astype(str).str.contains(re.escape(url), na=False)]
        if id is not None:
            rows = rows[rows["dataset_id"].astype(str) == str(id)]
        if len(rows) > 1 and date is not None:
            rng = clean_date_input(date)
            if rng is not None:
                year_rows = rows[rows["Year"].isin(
                    range(rng[0].year, rng[1].year + 1))]
                if len(year_rows) == 0:
                    # coverage interval containment (data.py:1337-1356)
                    cov = rows[
                        rows["Year"].isin([defs.MULTI])
                        & (
                            rows["coverage_start"].isna()
                            | (rows["coverage_start"] <= rng[1])
                        )
                        & (
                            rows["coverage_end"].isna()
                            | (rows["coverage_end"] >= rng[0])
                        )
                    ]
                    rows = cov if len(cov) else rows
                else:
                    rows = year_rows
        if len(rows) == 0:
            raise ValueError(
                f"No dataset for table_type='{table_type}' date={date} in "
                f"source '{self.source_name}'. Available: {self.get_tables_types()}"
            )
        # min_version gate (reference _check_version, data.py:2249-2273):
        # catalog rows may require a newer library than this one
        from openpolicedata_spark import __version__ as _ver

        def _too_old(mv):
            if mv is None or (isinstance(mv, float) and pd.isna(mv)) or str(mv).strip() in ("", "-1"):
                return False
            try:
                cur = tuple(int(x) for x in _ver.split("."))
                need = tuple(int(x) for x in str(mv).split("."))
                return cur < need
            except ValueError:
                return False

        rows = rows[~rows["min_version"].map(_too_old)] if "min_version" in rows.columns else rows
        if len(rows) == 0:
            from openpolicedata_spark.exceptions import OPD_MinVersionError

            raise OPD_MinVersionError(
                f"Dataset for table_type='{table_type}' requires a newer "
                f"openpolicedata_spark than {_ver} (catalog min_version gate)")
        if len(rows) > 1:
            multi = rows[rows["Year"] == defs.MULTI]
            if len(multi) == 1:
                rows = multi
            else:
                raise ValueError(
                    f"Multiple datasets match table_type='{table_type}' date={date}; "
                    f"disambiguate with url= or id=. Candidates:\n{rows[['Year','URL']]}"
                )
        return rows.iloc[0]

    def _rows_for(self, table_type: Optional[str]) -> pd.DataFrame:
        if table_type is None:
            return self.datasets
        return self.datasets[self.datasets["TableType"] == table_type]

    def _get_loader(self, row: pd.Series) -> DataLoader:
        # the key must cover EVERY row attribute a loader bakes in: two
        # catalog rows can share one portal dataset split only by static
        # `query` predicates (or differ in agency_field) — omitting those
        # from the key would hand one table's loader to the other and
        # silently serve the wrong rows
        key = (row["DataType"], row["URL"], str(row["dataset_id"]),
               row["date_field"], row.get("agency_field"),
               repr(row.get("query")))
        if key not in self._loader_cache:
            self._loader_cache[key] = _make_loader(self.spark, row)
        return self._loader_cache[key]

    # ---------------------------------------------------------------- loading
    def load(
        self,
        table_type: str,
        date=None,
        *,
        agency: Optional[str] = None,
        nrows: Optional[int] = None,
        offset: int = 0,
        select: Optional[list[str]] = None,
        sortby: Optional[str] = None,
        url: Optional[str] = None,
        id: Optional[str] = None,
    ) -> Table:
        """Main query path (reference data.py:1165-1219 → __load
        data.py:1372-1436): catalog row → loader → filtered DataFrame →
        Table. The filtered rows are read at the first action, not here.
        The jobs a load can run:
        - a file loader's first date-filtered load classifies a date column
          that is not a native timestamp with one sample job (at most 1000
          rows, `detect_date_format`, memoized per loader); a native column
          costs none;
        - a CSV read infers its schema (Spark's own jobs);
        - a portal load with ``sortby="date"`` sorts when the snapshot is
          bound.

        Every loader applies ``select``, the date sort and the
        ``nrows``/``offset`` window in one step (`DataLoader.load`), so a
        window is always cut after the sort. ``sortby`` accepts only
        ``"date"``, and only on a table with a date column; anything else
        raises ``ValueError``. A portal window is pushed to the server only
        when it is exact (the pushed date clause needs no local re-filter)
        and unsorted. A sorted window fetches the whole filtered table, as
        a file loader reads the whole file.

        A file-backed table is the loader's native scan: every action
        re-reads the files, and later filters on ``Table.table`` still
        reach the scan. A portal table (the loader is not file-backed) is
        a snapshot, bound with ``localCheckpoint(eager=False)``: its first
        action fetches every page once, and every later action (the
        standardize sample, expand, merge, the write) reads the stored
        rows. So:
        - a preview (``show``, ``to_pandas(max_rows=…)``) fetches the
          whole filtered table, as the reference's pandas load does;
          bound it with ``nrows=``;
        - a later filter on ``Table.table`` runs on the snapshot and does
          not reach the portal; push filters through ``date=``,
          ``agency=`` and ``nrows=``;
        - losing an executor loses the snapshot (SCALE.md, localCheckpoint
          loss semantics): load the Table again.
        ``RestLoader.load``, ``load_stream`` and
        ``spark.read.format("opd_*")`` stay unbound.

        Every portal row, Socrata included, loads through
        ``rest.make_rest_loader``, so ``agency=`` (on the row's
        ``agency_field``) and the row's static ``query`` predicates reach
        the portal. A portal loader probes the table's date format once
        (one page request) at its first date-filtered load."""
        row = self.filter(table_type, date, url=url, id=id)
        loader = self._get_loader(row)
        df = loader.load(
            date=date, nrows=nrows, offset=offset, agency=agency,
            select=select, sortby=sortby,
        )
        if not loader.isfile():
            df = df.localCheckpoint(eager=False)
        year = date if date is not None else row["Year"]
        return Table(
            df,
            state=row["State"],
            source_name=row["SourceName"],
            agency=agency or row["Agency"],
            table_type=table_type,
            year=year,
            date_field=row["date_field"],
            agency_field=row["agency_field"],
            url=row["URL"],
        )

    def load_stream(self, table_type: str, date=None, *,
                    agency: Optional[str] = None,
                    select: Optional[list[str]] = None,
                    url: Optional[str] = None,
                    id: Optional[str] = None):
        """STREAMING query path (round 13 — the incremental face of
        `load`, beyond the reference): resolve the catalog row exactly
        like `load`, then return the loader's streaming DataFrame
        (`RestLoader.load_stream` — the portal pages incrementally,
        the committed row offset lives in the query checkpoint, so a
        scheduled drain ingests only rows that arrived since the last
        run). Portal sources only (a file-backed catalog row should
        use Spark's file stream source directly); filters must be
        accurate single-clause — see RestLoader.load_stream. Returns
        a raw streaming DataFrame, not a Table (streams compose with
        writeStream, not the Table verbs)."""
        row = self.filter(table_type, date, url=url, id=id)
        loader = self._get_loader(row)
        if not hasattr(loader, "load_stream"):
            raise NotImplementedError(
                f"dataset {row['URL']!r} is file-backed — stream it "
                f"with spark.readStream over the files instead")
        return loader.load_stream(date=date, agency=agency,
                                  select=select)

    def load_iter(self, table_type: str, date=None, nbatch: int = 100_000, **kwargs):
        """Batched iteration (reference data.py:1102-1162). In Spark this is
        rarely needed — `toLocalIterator` streams partitions without
        collecting the whole result on the driver."""
        t = self.load(table_type, date, **kwargs)
        schema = t.table.schema
        it = t.table.toLocalIterator(prefetchPartitions=True)
        batch: list = []
        for r in it:
            batch.append(r)
            if len(batch) >= nbatch:
                yield Table(self.spark.createDataFrame(batch, schema),
                            table_type=table_type, year=date)
                batch = []
        if batch:
            yield Table(self.spark.createDataFrame(batch, schema),
                        table_type=table_type, year=date)

    # --------------------------------------------------------------- re-load
    def load_parquet(self, path: str, table_type: Optional[str] = None,
                     date=None) -> Table:
        """reference data.py:1540-1587. Reads through `ParquetLoader`, so a
        nanosecond-timestamp file loads repaired."""
        df = ParquetLoader(self.spark, url=path).load()
        return Table(df, state=self.state, source_name=self.source_name,
                     table_type=table_type, year=date)

    def load_csv(self, path: str, table_type: Optional[str] = None, date=None) -> Table:
        """reference data.py:1438-1538. Reads through `CsvLoader`: the
        charset check, and the schema inferred once per file version. A
        column that `Table.to_csv` wrote as JSON text loads as that text."""
        df = CsvLoader(self.spark, url=path).load()
        return Table(df, state=self.state, source_name=self.source_name,
                     table_type=table_type, year=date)

    def load_feather(self, path: str, table_type: Optional[str] = None,
                     date=None) -> Table:
        """Re-load a feather file saved by Table.to_feather (reference
        data.py:1490-1538). Driver-side read (feather is single-machine);
        the resulting DataFrame is distributed as usual."""
        import pandas as _pd

        df = self.spark.createDataFrame(_pd.read_feather(path))
        return Table(df, state=self.state, source_name=self.source_name,
                     table_type=table_type, year=date)

    def find_related_tables(self, table_type: str) -> list[str]:
        """Sibling split tables, e.g. 'X - SUBJECTS' ↔ 'X - OFFICERS'
        (reference data.py:1629-1680)."""
        m = re.match(r"^(.*?)(?:\s*-\s*(SUBJECTS|OFFICERS|INCIDENTS|SUBJECTS/OFFICERS|"
                     r"VEHICLES|NONMOTORIST|ALLEGATIONS|PENALTIES|BACKGROUND|"
                     r"BODY WORN CAMERA|ADDITIONAL))?$", table_type)
        family = m.group(1).strip() if m else table_type
        out = [
            tt for tt in self.get_tables_types()
            if tt != table_type and (tt == family or tt.startswith(family + " -"))
        ]
        return out

    # ------------------------------------------------------- filename helpers
    def _filename(self, ext: str, date=None, output_dir=None, table_type=None,
                  agency=None, url=None, id=None, geo: bool = False) -> str:
        """reference data.py:1683-1806 (`Source.get_*_filename` →
        `__get_filename`): resolve the one matching catalog row, then build
        the deterministic filename without loading any data."""
        row = self.filter(table_type, date, url=url, id=id)
        # pass the RESOLVED row URL, not the user's partial: filter()
        # matches url= as a substring, but the disambiguation helper
        # downstream (_unique_url_sub) compares catalog URLs exactly — a
        # partial that filter() accepted would fail to re-match there
        name = _build_filename(
            ext, self.state, self.source_name,
            agency or row.get("Agency"), table_type, date,
            url=row.get("URL"),
            id=id if id is not None else row.get("dataset_id"),
            source=self)
        return os.path.join(output_dir, name) if output_dir else name

    def get_csv_filename(self, date=None, output_dir=None, table_type=None,
                         agency=None, url=None, id=None) -> str:
        """reference data.py:1683-1719."""
        return self._filename(".csv", date, output_dir, table_type, agency,
                              url, id)

    def get_feather_filename(self, date=None, output_dir=None,
                             table_type=None, agency=None, url=None, id=None,
                             geo: bool = False) -> str:
        """reference data.py:1722-1761."""
        return self._filename(".geofeather" if geo else ".feather", date,
                              output_dir, table_type, agency, url, id)

    def get_parquet_filename(self, date=None, output_dir=None,
                             table_type=None, agency=None, url=None, id=None,
                             geo: bool = False) -> str:
        """reference data.py:1764-1803."""
        return self._filename(".geoparquet" if geo else ".parquet", date,
                              output_dir, table_type, agency, url, id)


# --------------------------------------------------------------------------
# module-level filename builders (reference data.py:2105-2222)
# --------------------------------------------------------------------------


def _unique_url_sub(matches, url, id) -> str:
    """Shortest URL-segment combo unique to the requested dataset row
    (reference data.py:2188-2222). `matches` is the catalog subset that
    shares (table_type, date)."""
    is_req = matches["URL"] == url
    if id is None or (isinstance(id, float) and pd.isna(id)):
        is_req &= matches["dataset_id"].isna()
    else:
        is_req &= matches["dataset_id"].astype(str) == str(id)
    if not is_req.any():
        raise ValueError(f"Unable to find match to dataset ID {id} and URL {url}")
    if is_req.sum() > 1:
        raise ValueError("More than 1 match found")
    req_idx = is_req[is_req].index[0]
    for split in (r"[\:\/\_\.]", r"[\:\/\.]"):
        segs = matches["URL"].map(
            lambda x: [s for s in dict.fromkeys(re.split(split, str(x)))
                       if s not in ("", "http", "https")])
        unique = list(segs.loc[req_idx])
        for k in segs.index:
            if k == req_idx:
                continue
            unique = [s for s in unique if s not in segs.loc[k]]
        if unique:
            return "_".join(unique[:3])
    raise ValueError("Unable to find unique URL segments")


def _unique_id_sub(matches, url, id) -> str:
    """Dataset-id (or unique 10-char prefix) disambiguator
    (reference data.py:2160-2185)."""
    ids = matches["dataset_id"].astype(str)
    id = str(id)
    if (ids == id).sum() == 1:
        if len(id) < 10:
            return id
        short = id[:10]
        if ids.str.contains(re.escape(short)).sum() == 1:
            return short
    raise ValueError("Unable to find unique filename from dataset id")


def _build_filename(ext: str, state, source_name, agency, table_type, date,
                    url=None, id=None, source: "Source" = None) -> str:
    """reference data.py:2105-2157 (`_get_filename`): stem =
    state_source[_agency]_tabletype_date, plus url/id 'contains'
    disambiguators when several catalog rows share (table_type, date)."""
    from openpolicedata_spark import defs as _defs

    if hasattr(table_type, "value"):
        table_type = table_type.value
    filename = f"{state}_{source_name}"
    if source_name != agency and agency:
        filename += f"_{agency}"
    filename += f"_{table_type}"
    if isinstance(date, list):
        filename += f"_{date[0]}_{date[-1]}"
    elif date is not None:
        filename += f"_{date}"
    if source is not None:
        url_req, id_req, matches = source.check_simple_dataset_filter(
            table_type, date)
        if url_req or id_req:
            addon = ""
            if url_req:
                if url is None:
                    raise ValueError(
                        "URL input must be set to create unique filename")
                addon = _unique_url_sub(matches, url, id)
            if addon:
                filename += "_urlcontains_" + addon
            elif id_req:
                filename += "_idcontains_" + _unique_id_sub(matches, url, id)
            else:
                raise ValueError("Unable to find unique filename")
    filename = (filename.replace(",", "_").replace(" ", "_")
                .replace("__", "_").replace("/", "_"))
    return filename + ext


def get_csv_filename(state, source_name, agency, table_type, date,
                     url=None, id=None, source: "Source" = None) -> str:
    """reference data.py module-level get_csv_filename."""
    return _build_filename(".csv", state, source_name, agency, table_type,
                           date, url, id, source)


def get_feather_filename(state, source_name, agency, table_type, date,
                         url=None, id=None, source: "Source" = None,
                         geo: bool = False) -> str:
    """reference data.py module-level get_feather_filename."""
    ext = ".geofeather" if geo else ".feather"
    return _build_filename(ext, state, source_name, agency, table_type,
                           date, url, id, source)


def get_parquet_filename(state, source_name, agency, table_type, date,
                         url=None, id=None, source: "Source" = None,
                         geo: bool = False) -> str:
    """reference data.py module-level get_parquet_filename."""
    ext = ".geoparquet" if geo else ".parquet"
    return _build_filename(ext, state, source_name, agency, table_type,
                           date, url, id, source)
