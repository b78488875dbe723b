"""HTML table loader.

Parity: /root/reference/openpolicedata/data_loaders/html.py:10-194 —
`pd.read_html` with a browser UA, exactly one table expected, then the
standard local date/agency filter. A remote page is read through
``sources/httpio.open_url`` (the package's one remote-read path: browser
UA, timeout, legacy-TLS retry), once per loader. Driver-side parse (HTML
tables are small) → ``spark.createDataFrame``. The page parses with the
stdlib ``sources/htmltable`` reader, whatever else is installed; tests
may inject pre-parsed tables. Cells load as text; dates are parsed by
the loaders' one date layer (``functions/datetime``).
"""

from __future__ import annotations

import functools
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from openpolicedata_spark.sources import httpio
from openpolicedata_spark.sources.file import _FileLoader


class HtmlLoader(_FileLoader):
    def __init__(self, spark: SparkSession, url: str,
                 date_field: Optional[str] = None,
                 agency_field: Optional[str] = None,
                 query: Optional[dict] = None,
                 tables: Optional[list[pd.DataFrame]] = None):
        super().__init__(spark, url, date_field, agency_field, query)
        self._tables = tables

    def _fetch(self) -> str:
        """Page bytes → text. Local paths read directly; http(s) URLs go
        through sources/httpio (browser UA: agency sites 403 the default
        Python UA, as reference html.py knows)."""
        if httpio.is_url(self.url):
            with httpio.open_url(self.url, httpio.TIMEOUT_S) as resp:
                charset = resp.headers.get_content_charset() or "utf-8"
                return resp.read().decode(charset, errors="replace")
        with open(self.url, encoding="utf-8", errors="replace") as f:
            return f.read()

    @functools.cached_property
    def _table(self) -> pd.DataFrame:
        """The page's one table, fetched and parsed once per loader, the
        rule `CsvLoader._path` and `ExcelLoader._workbook` follow."""
        tables = self._tables
        if tables is None:
            # fetch ONCE with the browser UA (agency sites 403 the
            # default Python UA — pd.read_html(url) would hit exactly
            # that), then extract the tables with html.parser
            # (sources/htmltable.py, pd.read_html's list-of-frames contract)
            from openpolicedata_spark.sources.htmltable import read_html_tables

            tables = read_html_tables(self._fetch())
        if len(tables) != 1:
            # reference html.py expects exactly one table per page
            raise ValueError(f"expected exactly 1 HTML table, got {len(tables)}")
        return tables[0]

    def _read(self) -> DataFrame:
        pdf = self._table
        return self.spark.createDataFrame(pdf.astype(str).where(pdf.notna(), None))
