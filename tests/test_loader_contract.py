"""One load contract for every loader kind: `DataLoader.load` is the one
select → date sort → row-window step, so every loader returns the same
rows for the same request."""

from __future__ import annotations

import ast
import os
import pathlib

import pandas as pd
import pytest

from openpolicedata_spark.sources.base import DataLoader
from openpolicedata_spark.sources.combined import CombinedLoader
from openpolicedata_spark.sources.excel import ExcelLoader
from openpolicedata_spark.sources.file import CsvLoader, JsonLoader, ParquetLoader
from openpolicedata_spark.sources.html import HtmlLoader
from openpolicedata_spark.sources.portals.testing import FakePortal, make_rows
from openpolicedata_spark.sources.portals.transport import FakeTransport
from openpolicedata_spark.sources.rest import RestLoader

# every 7th row, newest first: stored order is not date order
ROWS = make_rows(300)[::-7]
FIELDS = dict(date_field="incident_date", agency_field="agency")
PORTALS = {
    "socrata": ("opd_socrata", "https://fake.portal.test", "abcd-1234"),
    "arcgis": ("opd_arcgis", "https://fake.portal.test/FeatureServer/0", ""),
}
KINDS = ["csv", "json", "parquet", "excel", "html", *PORTALS, "combined"]


def _csv(tmp_path, rows, name="rows.csv") -> str:
    path = os.path.join(tmp_path, name)
    pd.DataFrame(rows).to_csv(path, index=False)
    return path


def _loader(spark, tmp_path, kind) -> DataLoader:
    pdf = pd.DataFrame(ROWS)
    path = os.path.join(tmp_path, f"rows.{kind}")
    if kind == "csv":
        return CsvLoader(spark, url=_csv(tmp_path, ROWS), **FIELDS)
    if kind == "json":
        pdf.to_json(path, orient="records", lines=True)
        return JsonLoader(spark, url=path, **FIELDS)
    if kind == "parquet":
        pdf.to_parquet(path, index=False)
        return ParquetLoader(spark, url=path, **FIELDS)
    if kind == "excel":
        grid = pd.DataFrame([list(pdf.columns), *pdf.values.tolist()])
        return ExcelLoader(spark, url="rows.xlsx", sheets={"Sheet1": grid},
                           **FIELDS)
    if kind == "html":
        return HtmlLoader(spark, url="rows.html", tables=[pdf], **FIELDS)
    if kind == "combined":
        half = len(ROWS) // 2
        return CombinedLoader(spark, [
            CsvLoader(spark, url=_csv(tmp_path, ROWS[:half], "a.csv"), **FIELDS),
            CsvLoader(spark, url=_csv(tmp_path, ROWS[half:], "b.csv"), **FIELDS),
        ])
    fmt, url, ds = PORTALS[kind]
    return RestLoader(spark, format_name=fmt, url=url, dataset=ds,
                      date_format="timestamp",
                      transport=FakeTransport(handler=FakePortal(kind, rows=ROWS)),
                      **FIELDS)


@pytest.mark.parametrize("kind", KINDS)
def test_every_loader_cuts_the_window_after_the_date_sort(spark, tmp_path,
                                                          kind):
    """load(date, nrows, offset, select, sortby="date") is the full load,
    sorted by date, then projected, then sliced. The selection leaves the
    sort key out. A combined loader has no date column: it refuses the
    sort and slices its union in stored order."""
    loader = _loader(spark, tmp_path, kind)
    select, nrows, offset = ["case_id", "agency"], 4, 2
    for date in (None, 2020):
        full = loader.load(date=date).collect()
        assert len(full) > nrows + offset
        if kind == "combined":
            with pytest.raises(ValueError, match="date"):
                loader.load(date=date, sortby="date")
            got = loader.load(date=date, nrows=nrows, offset=offset,
                              select=select)
        else:
            full.sort(key=lambda r: r.incident_date)
            got = loader.load(date=date, nrows=nrows, offset=offset,
                              select=select, sortby="date")
        want = [tuple(r[c] for c in select) for r in full]
        assert [tuple(r) for r in got.collect()] == \
            want[offset:offset + nrows], (kind, date)


@pytest.mark.parametrize("kind", KINDS)
def test_unknown_sortby_is_refused(spark, tmp_path, kind):
    loader = _loader(spark, tmp_path, kind)
    with pytest.raises(ValueError, match="'date'"):
        loader.load(sortby="agency")


@pytest.mark.parametrize("kind", ["csv", "socrata"])
def test_date_sort_without_a_date_column_is_refused(spark, tmp_path, kind):
    loader = _loader(spark, tmp_path, kind)
    loader.date_field = None
    with pytest.raises(ValueError, match="date column"):
        loader.load(sortby="date")


class _Unloadable(DataLoader):
    def isfile(self) -> bool:
        return True

    def _scan(self, date, agency, columns, window):
        raise AssertionError("a child was loaded")


def test_combined_loader_refuses_date_sort_before_loading_children(spark):
    loader = CombinedLoader(spark, [_Unloadable(spark), _Unloadable(spark)])
    with pytest.raises(ValueError, match="date column"):
        loader.load(sortby="date")


def test_to_csv_round_trips_through_load_csv(spark, tmp_path):
    """Source.load_csv reads through CsvLoader: inferred types come back,
    and an array column, which to_csv writes as JSON text, reloads as
    that text."""
    from openpolicedata_spark.catalog import Catalog
    from openpolicedata_spark.data import Source, Table

    cat = Catalog([dict(
        State="Ohio", SourceName="Columbus", Agency="MULTIPLE",
        TableType="STOPS", Year="MULTIPLE", DataType="CSV",
        URL=_csv(tmp_path, ROWS[:3]), dataset_id=None, **FIELDS)])
    src = Source("Columbus", catalog=cat, spark=spark)
    df = spark.createDataFrame(
        [("C1", 3, ["WHITE", "BLACK"]), ("C2", 5, ["ASIAN"])],
        "case_id string, n int, race array<string>")
    path = Table(df, table_type="STOPS").to_csv(str(tmp_path / "out.csv"))
    back = src.load_csv(path, table_type="STOPS")
    assert back.table_type == "STOPS"
    assert dict(back.table.dtypes) == {"case_id": "string", "n": "int",
                                       "race": "string"}
    assert sorted(tuple(r) for r in back.table.collect()) == [
        ("C1", 3, '["WHITE","BLACK"]'), ("C2", 5, '["ASIAN"]')]


def _defs_and_calls(tree):
    """(qualified scope, name) of every `def load` and of every call of
    `apply_limit_offset` or `orderBy`."""
    defs, calls = [], []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                if isinstance(child, ast.FunctionDef) and child.name == "load":
                    defs.append(".".join(scope) or "<module>")
                visit(child, scope + [child.name])
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name in ("apply_limit_offset", "orderBy"):
                    calls.append((".".join(scope), name))
            visit(child, scope)

    visit(tree, [])
    return defs, calls


def test_loaders_share_one_load_step():
    """Under sources/, `load` is defined only by DataLoader, and only
    DataLoader.load cuts the row window or sorts."""
    import openpolicedata_spark

    root = pathlib.Path(openpolicedata_spark.__file__).parent / "sources"
    defs, calls = [], []
    for py in sorted(root.rglob("*.py")):
        rel = py.relative_to(root).as_posix()
        d, c = _defs_and_calls(ast.parse(py.read_text()))
        defs += [(rel, s) for s in d]
        calls += [(rel, *s) for s in c]
    assert defs == [("base.py", "DataLoader")], defs
    assert sorted(calls) == [("base.py", "DataLoader.load", "apply_limit_offset"),
                             ("base.py", "DataLoader.load", "orderBy")], calls


@pytest.mark.parametrize("kind", ["csv", "socrata"])
def test_text_dates_sort_by_date(spark, tmp_path, kind):
    """`sortby="date"` on a text date column ('1/13/2020') orders by the
    date the text names, not by the text."""
    import datetime as dt

    rows = make_rows(300, date_text="mmddyyyy")[::-7]
    if kind == "csv":
        loader = CsvLoader(spark, url=_csv(tmp_path, rows), **FIELDS)
    else:
        fmt, url, ds = PORTALS[kind]
        loader = RestLoader(
            spark, format_name=fmt, url=url, dataset=ds,
            date_format="mmddyyyy",
            transport=FakeTransport(handler=FakePortal(
                kind, rows=rows, date_text="mmddyyyy")),
            **FIELDS)

    def day(text):
        return dt.datetime.strptime(text, "%m/%d/%Y")

    want = sorted(day(r["incident_date"]) for r in rows
                  if day(r["incident_date"]).year == 2020)
    got = [day(r.incident_date) for r in
           loader.load(date=2020, sortby="date").collect()]
    assert got == want
    assert want != sorted(want, key=lambda d: f"{d.month}/{d.day}/{d.year}")
