"""The loaders' one date layer (functions/datetime): every file loader and
the portal residual filter match a date range with `date_range_filter`
under the column's classified format, and the portal probe classifies
with the same vote as `detect_date_format`."""

from __future__ import annotations

import email.message
import io

import pandas as pd
import pytest
from pyspark.sql import functions as F

from openpolicedata_spark.sources.excel import ExcelLoader
from openpolicedata_spark.sources.file import CsvLoader
from openpolicedata_spark.sources.html import HtmlLoader

# (id, M/d/yyyy text date)
_TEXT_DATES = [
    ("A", "12/31/2021"), ("B", "01/15/2022"), ("C", "02/10/2022"),
    ("D", "02/11/2022"), ("E", "6/30/2022"), ("F", "12/31/2022"),
    ("G", "01/01/2023"),
]
_IN_2022 = ["B", "C", "D", "E", "F"]
_JAN15_FEB10 = ["B", "C"]


@pytest.fixture
def text_date_csv(tmp_path):
    path = tmp_path / "text_dates.csv"
    path.write_text("id,date\n" + "".join(f"{i},{d}\n" for i, d in _TEXT_DATES))
    return str(path)


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


def _assert_text_date_filters(loader):
    assert _ids(loader.load(date=2022)) == _IN_2022
    assert _ids(loader.load(date=["2022-01-15", "2022-02-10"])) == _JAN15_FEB10


def test_csv_text_dates_filter_exactly(spark, text_date_csv):
    _assert_text_date_filters(CsvLoader(spark, text_date_csv, date_field="date"))


def test_html_text_dates_filter_exactly(spark):
    table = pd.DataFrame(_TEXT_DATES, columns=["id", "date"])
    _assert_text_date_filters(
        HtmlLoader(spark, url="http://fake", date_field="date", tables=[table]))


def test_excel_text_dates_filter_exactly(spark):
    grid = pd.DataFrame([["id", "date"], *map(list, _TEXT_DATES)])
    _assert_text_date_filters(
        ExcelLoader(spark, url="fake.xlsx", date_field="date",
                    sheets={"Incidents": grid}))


def test_get_years_of_text_date_csv(spark, text_date_csv):
    loader = CsvLoader(spark, text_date_csv, date_field="date")
    assert loader.get_years("date") == [2021, 2022, 2023]


def test_period_overlap_day_precision_is_half_open(spark):
    """A day-precision value is a point in time: 2021-01-01 10:00 is not in
    the day 2021-01-02."""
    from openpolicedata_spark.functions.datetime import period_overlap_filter

    df = spark.createDataFrame(
        [("early", "2021-01-01 10:00:00"), ("in", "2021-01-02 10:00:00"),
         ("late", "2021-01-03 00:00:00")], "id string, t string")
    hit = df.where(period_overlap_filter(
        F.to_timestamp("t"), F.lit("day"), "2021-01-02", "2021-01-02"))
    assert _ids(hit) == ["in"]


@pytest.fixture
def year_csv(tmp_path):
    # not named "year": the column is a year column by its values alone
    path = tmp_path / "years.csv"
    path.write_text("id,report_year\n" + "".join(
        f"r{i},{2018 + i % 4}\n" for i in range(40)))
    return str(path)


def test_year_column_classified_once_per_loader(spark, year_csv, count_jobs):
    """Two date-filtered loads of one loader over an integer-year CSV run at
    most one job beyond the reads themselves: the one sample job that
    classifies the column."""
    loader = CsvLoader(spark, year_csv, date_field="report_year")
    _, reads = count_jobs("year-csv-reads",
                          lambda: [loader.load(), loader.load()])
    (y2020, y1920), dated = count_jobs(
        "year-csv-dated",
        lambda: [loader.load(date=2020), loader.load(date=[2019, 2020])])
    assert dated - reads <= 1
    assert {r.report_year for r in y2020.collect()} == {2020}
    assert {r.report_year for r in y1920.collect()} == {2019, 2020}


def test_partial_year_request_on_year_column(spark, year_csv):
    """A sub-year range on a year column returns the overlapping years, as
    the portal path answers it."""
    loader = CsvLoader(spark, year_csv, date_field="report_year")
    partial = loader.load(date=["2020-06-01", "2021-03-01"])
    assert {r.report_year for r in partial.collect()} == {2020, 2021}


_MAKE_ROWS_FORMATS = ["iso", "epoch_ms", "yyyymmdd", "mmddyyyy",
                      "month_abbrev", "yyyyq", "year"]


@pytest.mark.parametrize("date_text", _MAKE_ROWS_FORMATS)
def test_probe_and_detect_reach_one_decision(spark, date_text):
    """The portal probe over a page and `detect_date_format` over the same
    values as a Spark column decide the same pushdown format."""
    from openpolicedata_spark.functions.datetime import detect_date_format
    from openpolicedata_spark.sources.portals.probe import probe_date_format
    from openpolicedata_spark.sources.portals.socrata import SocrataClient
    from openpolicedata_spark.sources.portals.testing import FakePortal, make_rows
    from openpolicedata_spark.sources.portals.transport import FakeTransport
    from openpolicedata_spark.sources.portals.where import format_of_strategy

    vals = [r["incident_date"] for r in make_rows(date_text=date_text)]
    dtype = "bigint" if isinstance(vals[0], int) else "string"
    df = spark.createDataFrame([(v,) for v in vals], f"d {dtype}")
    client = SocrataClient(
        transport=FakeTransport(handler=FakePortal("socrata", date_text=date_text)),
        url="https://x", dataset="d")
    probed = probe_date_format(client, "incident_date")
    assert probed is not None
    assert probed == format_of_strategy(detect_date_format(df, "d"))


def test_html_loader_fetches_its_page_once(spark, monkeypatch):
    from openpolicedata_spark.sources import httpio

    page = (b"<table><tr><th>id</th><th>date</th></tr>"
            b"<tr><td>A</td><td>2022-01-15</td></tr>"
            b"<tr><td>B</td><td>2023-03-01</td></tr></table>")
    calls = []

    class _Response(io.BytesIO):
        headers = email.message.Message()

    def open_url(url, timeout, headers=None):
        calls.append(url)
        return _Response(page)

    monkeypatch.setattr(httpio, "open_url", open_url)
    loader = HtmlLoader(spark, url="http://fake.test/page.html",
                        date_field="date")
    assert _ids(loader.load()) == ["A", "B"]
    assert _ids(loader.load(date=2022)) == ["A"]
    assert loader.get_count(2023) == 1
    assert calls == ["http://fake.test/page.html"]


# one value per `STRING_FORMATS` entry, in its order, and 'Sept.', which
# the month-name vote accepts but Java's month patterns do not
_VOTED_VALUES = [
    ("2022-09-05 10:11:12", "2022-09-05 10:11:12"),
    ("2022-09-05T10:11", "2022-09-05 10:11:00"),
    ("2022-09-05", "2022-09-05 00:00:00"),
    ("2022/09/05", "2022-09-05 00:00:00"),
    ("9/5/2022 10:11:12", "2022-09-05 10:11:12"),
    ("9/5/2022 10:11", "2022-09-05 10:11:00"),
    ("9/5/2022", "2022-09-05 00:00:00"),
    ("9-5-2022", "2022-09-05 00:00:00"),
    ("9/5/22", "2022-09-05 00:00:00"),
    ("20220905", "2022-09-05 00:00:00"),
    ("Sep 5, 2022", "2022-09-05 00:00:00"),
    ("September 5 2022", "2022-09-05 00:00:00"),
    ("5 Sep 2022", "2022-09-05 00:00:00"),
    ("9/5/2022 1430 hours", "2022-09-05 14:30:00"),
    ("Sept. 5, 2022", "2022-09-05 00:00:00"),
    ("sept 5 2022", "2022-09-05 00:00:00"),
]


def test_every_voted_string_format_parses(spark):
    """The vote and the parse agree: every value the vote classifies
    parses, under the strategy the vote chose, to its date."""
    from openpolicedata_spark.functions.datetime import (
        STRING_FORMATS,
        _strategy_from_values,
        to_datetime_expr,
    )

    assert len(_VOTED_VALUES) == len(STRING_FORMATS) + 2
    for value, expected in _VOTED_VALUES:
        strategy = _strategy_from_values("string", [value])
        assert strategy["kind"] != "unknown", value
        got = spark.createDataFrame([(value,)], "v string").select(
            F.date_format(to_datetime_expr(F.col("v"), strategy),
                          "yyyy-MM-dd HH:mm:ss").alias("t")).first().t
        assert got == expected, (value, strategy)
