"""Dataset catalog: the driver-side metadata table describing every available
dataset (one row per State/Source/Agency/TableType/Year-or-MULTI).

Parity target: /root/reference/openpolicedata/datasets.py — column dtypes
(datasets.py:15-29), `_build` normalization (datasets.py:32-91), `query`
filtering with fuzzy source suggestions (datasets.py:107-157), summaries
(datasets.py:160-315).

Design: the catalog is tiny (~550 rows in the reference) so it lives on the
driver as a pandas DataFrame with a fixed schema; `to_spark()` exposes it as a
(broadcastable) Spark DataFrame for catalog analytics. Partition-pruning
analog: catalog Year/coverage matching decides which datasets are scanned at
all (reference data.py:1321-1356) before any distributed work starts.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
from typing import Any, Iterable, Optional

import pandas as pd

from openpolicedata_spark import defs

# Fixed catalog schema (reference datasets.py:15-29 plus coverage/dataset_id).
CATALOG_COLUMNS = [
    "State",
    "SourceName",
    "Agency",
    "AgencyFull",
    "TableType",
    "Year",            # int, MULTI ("MULTIPLE"), or NA ("NONE")
    "Description",
    "DataType",        # defs.DataType value
    "URL",
    "date_field",
    "agency_field",
    "dataset_id",
    "query",           # static constant predicates {col: value}
    "coverage_start",
    "coverage_end",
    "readme",
    "min_version",
]

_ARCGIS_LAYER_RE = re.compile(r"(MapServer|FeatureServer)/\d+")


def _normalize_year(y: Any) -> Any:
    """Year column holds ints, MULTI, or NA (reference datasets.py:56-58)."""
    if isinstance(y, str):
        y = y.strip()
        if y.isdigit():
            return int(y)
        if y == "MULTI":
            return defs.MULTI
    return y


def _normalize_query(q: Any) -> Optional[dict]:
    if q is None or (isinstance(q, float) and pd.isna(q)):
        return None
    if isinstance(q, dict):
        return q
    if isinstance(q, str) and q.strip():
        return json.loads(q)
    return None


class Catalog:
    """In-memory dataset catalog with reference-compatible query semantics."""

    def __init__(self, records: pd.DataFrame | Iterable[dict]):
        if not isinstance(records, pd.DataFrame):
            records = pd.DataFrame(list(records))
        df = records.copy()
        for col in CATALOG_COLUMNS:
            if col not in df.columns:
                df[col] = None
        df = df[CATALOG_COLUMNS]
        # Normalization mirroring reference _build (datasets.py:32-91):
        df["Year"] = df["Year"].map(_normalize_year)
        for col in ("State", "SourceName", "Agency", "TableType", "DataType", "URL"):
            df[col] = df[col].map(lambda x: x.strip() if isinstance(x, str) else x)
        df["query"] = df["query"].map(_normalize_query)
        # ArcGIS URLs truncated at the layer number (datasets.py:68-76).
        df["URL"] = [
            u[: _ARCGIS_LAYER_RE.search(u).span()[1]]
            if isinstance(u, str)
            and d == defs.DataType.ARCGIS.value
            and _ARCGIS_LAYER_RE.search(u)
            else u
            for u, d in zip(df["URL"], df["DataType"])
        ]
        # Dedup on the identity key (datasets.py:78-79).
        df = df.drop_duplicates(
            subset=["State", "SourceName", "Agency", "TableType", "Year",
                    "coverage_start", "coverage_end"],
            ignore_index=True,
        )
        for col in ("coverage_start", "coverage_end"):
            df[col] = pd.to_datetime(df[col], errors="coerce")
        self.df = df

    @classmethod
    def from_csv(cls, path_or_buf) -> "Catalog":
        """Build the catalog from a CSV file (reference datasets.reload,
        datasets.py:94-104): same normalization as the constructor; the
        reference's published catalog CSV round-trips through here."""
        return cls(pd.read_csv(path_or_buf))

    # ------------------------------------------------------------------ query
    def query(
        self,
        source_name: Optional[str] = None,
        state: Optional[str] = None,
        agency: Optional[str] = None,
        table_type: Optional[str] = None,
    ) -> pd.DataFrame:
        """Filter the catalog (reference datasets.py:107-157). Exact,
        case-sensitive matches; on a source-name miss, raise with fuzzy
        suggestions (reference uses rapidfuzz partial_ratio>90,
        datasets.py:152-155; we fall back to difflib when unavailable)."""
        df = self.df
        mask = pd.Series(True, index=df.index)
        if state is not None:
            mask &= df["State"] == state
        if source_name is not None:
            mask &= df["SourceName"] == source_name
        if agency is not None:
            mask &= df["Agency"] == agency
        if table_type is not None:
            tt = table_type.value if isinstance(table_type, defs.TableType) else table_type
            mask &= df["TableType"] == tt
        out = df[mask].reset_index(drop=True)
        if len(out) == 0 and source_name is not None:
            sugg = self._suggest_sources(source_name)
            if sugg:
                raise ValueError(
                    f"No source found for source_name='{source_name}'. "
                    f"Did you mean one of {sugg}?"
                )
        return out

    def _suggest_sources(self, name: str) -> list[str]:
        import difflib

        candidates = sorted(set(self.df["SourceName"].dropna()))
        return difflib.get_close_matches(name, candidates, n=3, cutoff=0.6)

    # -------------------------------------------------------------- summaries
    def num_unique(self) -> int:
        """Count of unique datasets (reference datasets.py:160-166)."""
        return len(
            self.df.drop_duplicates(
                subset=["State", "SourceName", "Agency", "TableType", "Year"]
            )
        )

    def num_sources(self) -> int:
        """Count of unique sources (reference datasets.py:168-182)."""
        return len(self.df.drop_duplicates(subset=["State", "SourceName", "Agency"]))

    def get_table_types(self, contains: Optional[str] = None) -> list[str]:
        """Sorted unique table types, optionally filtered by substring
        (reference datasets.get_table_types, datasets.py:317-330)."""
        tts = sorted(set(self.df["TableType"].dropna()))
        if contains is not None:
            tts = [t for t in tts if contains in t]
        return tts

    def summary_by_table_type(self, by_year: bool = False) -> pd.DataFrame:
        """Datasets per table type, optionally pivoted by year
        (reference datasets.py:248-315)."""
        if not by_year:
            return (
                self.df.groupby("TableType")
                .size()
                .rename("count")
                .reset_index()
                .sort_values("TableType", ignore_index=True)
            )
        return (
            self.df.assign(Year=self.df["Year"].astype(str))
            .pivot_table(index="TableType", columns="Year",
                         aggfunc="size", fill_value=0)
            .reset_index()
        )

    def summary_by_state(self, by_year: bool = False) -> pd.DataFrame:
        """Datasets per state, optionally pivoted by year
        (reference datasets.py:184-246)."""
        if not by_year:
            return (
                self.df.groupby("State").size().rename("count").reset_index()
            )
        return (
            self.df.assign(Year=self.df["Year"].astype(str))
            .pivot_table(index="State", columns="Year", aggfunc="size", fill_value=0)
            .reset_index()
        )

    # ------------------------------------------------------------------ spark
    def to_spark(self, spark):
        """Materialize the catalog as a small Spark DataFrame (broadcastable
        for catalog-side joins). dataset_id / query serialized to JSON."""
        df = self.df.copy()
        df["Year"] = df["Year"].astype(str)
        df["dataset_id"] = df["dataset_id"].map(
            lambda x: json.dumps(x) if isinstance(x, (dict, list)) else x
        )
        df["query"] = df["query"].map(lambda x: json.dumps(x) if x else None)
        return spark.createDataFrame(df)


def local_testdata_catalog(sf_dir: str = "/root/testdata/sf0.001") -> Catalog:
    """Catalog over the driver-generated synthetic tables (TESTDATA.md) so the
    full Source→load→standardize path can run offline. Each parquet table is
    registered as a file-backed dataset; date-bearing tables get a
    date_field so the date-pushdown path (reference data_loader.py:120-191)
    is exercised."""
    date_fields = {"orders": "o_orderdate", "lineitem": "l_shipdate", "events": "ts"}
    coverage = {
        "orders": (_dt.date(1995, 1, 1), _dt.date(2001, 12, 31)),
        "lineitem": (_dt.date(1995, 1, 1), _dt.date(2001, 12, 31)),
        "events": (_dt.date(2024, 1, 1), _dt.date(2024, 1, 31)),
    }
    agency_fields = {"customer": "c_mktsegment"}  # exercises the agency path
    tables = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    records = []
    for t in tables:
        records.append(
            {
                "State": "Synthetic",
                "SourceName": "TestData",
                "Agency": defs.MULTI,
                "AgencyFull": "Synthetic Test Data",
                "TableType": t.upper(),
                "Year": defs.MULTI if t in date_fields else defs.NA,
                "Description": f"synthetic {t} table",
                "DataType": defs.DataType.PARQUET.value,
                "URL": f"{sf_dir}/{t}.parquet",
                "date_field": date_fields.get(t),
                "agency_field": agency_fields.get(t),
                "coverage_start": coverage.get(t, (None, None))[0],
                "coverage_end": coverage.get(t, (None, None))[1],
            }
        )
    return Catalog(records)


# --------------------------------------------------------------------------
# module-level default-catalog API (reference datasets.py:94-330)
#
# Reference users call `opd.datasets.query(...)` against a module-global
# catalog loaded at import. The engine mirrors that surface here; the
# default catalog is the offline testdata catalog (no network at import —
# the reference fetches its CSV from GitHub, we stay hermetic).
# --------------------------------------------------------------------------

_default_catalog: Optional[Catalog] = None


def default_catalog() -> Catalog:
    global _default_catalog
    if _default_catalog is None:
        _default_catalog = local_testdata_catalog()
    return _default_catalog


def reload(csvfile: Any = None) -> None:
    """Replace the module default catalog (reference datasets.py:94-104:
    `reload(csvfile)` re-reads the datasets CSV). Accepts a CSV path,
    a pandas DataFrame, an existing Catalog, or None for the built-in
    testdata catalog."""
    global _default_catalog
    if csvfile is None:
        _default_catalog = local_testdata_catalog()
    elif isinstance(csvfile, Catalog):
        _default_catalog = csvfile
    elif isinstance(csvfile, pd.DataFrame):
        _default_catalog = Catalog(csvfile)
    else:
        _default_catalog = Catalog.from_csv(csvfile)


def _partial_ratio(a: str, b: str) -> float:
    """Case-insensitive partial-ratio score in [0, 100]: the best
    difflib ratio of the shorter string against every equal-length window
    of the longer (the reference scores with rapidfuzz.fuzz.partial_ratio,
    datasets.py:11)."""
    import difflib

    a, b = a.lower(), b.lower()
    short, long_ = (a, b) if len(a) <= len(b) else (b, a)
    if short in long_:
        return 100.0
    best = 0.0
    for i in range(len(long_) - len(short) + 1):
        r = difflib.SequenceMatcher(
            None, short, long_[i:i + len(short)]).ratio()
        best = max(best, r)
    return best * 100.0


def query(
    source_name: Optional[str] = None,
    state: Optional[str] = None,
    agency: Optional[str] = None,
    table_type: Any = None,
    fuzzy_source: bool = False,
) -> pd.DataFrame:
    """Filter the default catalog (reference datasets.py:107-157).
    `fuzzy_source=True` keeps rows whose SourceName fuzzy-matches > 90
    instead of requiring equality."""
    cat = default_catalog()
    if fuzzy_source and source_name is not None:
        out = cat.query(state=state, agency=agency, table_type=table_type)
        keep = out["SourceName"].map(
            lambda s: _partial_ratio(str(s), source_name) > 90)
        return out[keep].reset_index(drop=True)
    return cat.query(source_name=source_name, state=state, agency=agency,
                     table_type=table_type)


def num_unique() -> int:
    """reference datasets.py:160-166 (unique on State/Source/Agency/Type)."""
    return len(query().drop_duplicates(
        subset=["State", "SourceName", "Agency", "TableType"]))


def num_sources(full_states_only: bool = False) -> int:
    """reference datasets.py:168-182."""
    d = query().drop_duplicates(subset=["State", "SourceName", "Agency"])
    if full_states_only:
        return int(((d["State"] == d["SourceName"])
                    & (d["Agency"] == defs.MULTI)).sum())
    return len(d)


def get_table_types(contains: Optional[str] = None) -> list[str]:
    """reference datasets.py:317-330 (case-insensitive contains)."""
    tts = sorted(set(query()["TableType"].dropna()))
    if contains is not None:
        tts = [t for t in tts if contains.lower() in t.lower()]
    return tts


def summary_by_state(by: Optional[str] = None) -> pd.DataFrame:
    """Datasets per state with optional per-year / per-table breakdown
    (reference datasets.py:184-246). Returns a 'Total' column indexed by
    State; `by='year'` / `by='table'` append unstacked counts."""
    df = query()
    uniq = df.drop_duplicates(["State", "SourceName", "Agency", "TableType"])
    out = pd.DataFrame(uniq.groupby("State").size(), columns=["Total"])
    by_l = by.lower() if isinstance(by, str) else None
    if by_l not in (None, "year", "table"):
        raise ValueError("by must be None, 'year', or 'table'")
    if by_l == "year":
        s = (df.drop_duplicates(
                ["State", "SourceName", "Agency", "TableType", "Year"])
             .groupby(["State", "Year"]).size().unstack().fillna(0)
             .convert_dtypes(convert_integer=True))
        s = s.rename(columns={"NONE": "N/A", defs.MULTI: "MULTI-YEAR"})
        out = pd.concat([out, s], axis=1)
    elif by_l == "table":
        s = (uniq.groupby(["State", "TableType"]).size().unstack().fillna(0)
             .convert_dtypes(convert_integer=True))
        out = pd.concat([out, s], axis=1)
    return out


def summary_by_table_type(by_year: bool = False) -> pd.DataFrame:
    """reference datasets.py:248-315 on the default catalog."""
    return default_catalog().summary_by_table_type(by_year=by_year)
