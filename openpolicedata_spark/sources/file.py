"""File-backed loaders: Parquet (Spark-native) and CSV.

Parity target: /root/reference/openpolicedata/data_loaders/csv_class.py
(Csv loader, :130-420) and data.py:1438-1626 (parquet/feather/csv re-load).

Spark mapping (SURVEY §2.1): `spark.read.parquet/csv` replaces the streaming
pandas reader; date/agency filters become Catalyst predicates pushed into the
scan (PushedFilters), so the reference's "local filter after read"
(csv_class.py:377-379) costs nothing extra; a text or year date column is
parsed by the one date layer (`functions.datetime`). The reference's quote-aware
streaming row counter (csv_class.py:90-127) is unnecessary — `df.count()`
is a scan-only job. Remote URLs and zip members are fetched on the driver
through sources/httpio (the package's one remote-read path) into its spool,
once per loader; Spark then reads the local copy.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
import zipfile
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openpolicedata_spark.sources.base import DataLoader


def read_parquet_repaired(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read tolerant of TIMESTAMP(NANOS) columns, which Spark's
    vectorized reader rejects outright. Driver-side footer inspection
    (pyarrow) finds nanosecond timestamp columns; they are read as longs
    (`spark.sql.legacy.parquet.nanosAsLong`) and repaired to timestamps with
    integer division (no double round-trip — 1.7e18 ns doesn't fit a double's
    53-bit mantissa)."""
    nanos_cols: list[str] = []
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        schema = pq.read_schema(path)
        nanos_cols = [
            f.name for f in schema
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        pass
    if not nanos_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
        )
    return df


class _FileLoader(DataLoader):
    def __init__(
        self,
        spark: SparkSession,
        url: str,
        date_field: Optional[str] = None,
        agency_field: Optional[str] = None,
        query: Optional[dict] = None,
    ):
        super().__init__(spark)
        self.url = url
        self.date_field = date_field
        self.agency_field = agency_field
        self.query = query or {}
        self._inferred: Optional[tuple] = None  # (version, result) memo

    def isfile(self) -> bool:
        return True

    def _infer_once(self, path: str, infer):
        """`infer()` — work that depends on the file alone: a reader's
        schema inference (CSV, JSON: a Spark job or two), a workbook's
        parse and repair (Excel) — once per version of the local file at
        `path` (its size and mtime; a spool file is content-addressed and
        never rewritten), memoized per loader like ``_last_count``. A path
        that is not local is inferred on every read."""
        try:
            st = os.stat(path)
        except OSError:
            return infer()
        version = (path, st.st_size, st.st_mtime_ns)
        if self._inferred is None or self._inferred[0] != version:
            self._inferred = (version, infer())
        return self._inferred[1]

    def _read(self) -> DataFrame:
        """The whole input as one frame: the only step a file format
        supplies."""
        raise NotImplementedError

    def _date_column(self) -> Optional[str]:
        """The column ``date=`` filters on (after ``_read``)."""
        return self.date_field

    def _scan(self, date, agency, columns, window):
        df = self._read()
        # Static catalog-declared predicates (reference csv_class.py:377-379).
        for k, v in self.query.items():
            df = df.filter(F.col(k) == F.lit(v))
        return self.filter_dataframe(
            df,
            date_field=self._date_column(),
            date_filter=date,
            agency_field=self.agency_field,
            agency=agency,
        ), False


class ParquetLoader(_FileLoader):
    """Native parquet scan — full Catalyst pushdown (predicates, pruning).
    Supersedes the reference's feather/parquet re-load path
    (data.py:1540-1626)."""

    def _read(self) -> DataFrame:
        return read_parquet_repaired(self.spark, self.url)


class JsonLoader(_FileLoader):
    """JSON-lines loader (Spark-native extension: the reference has no JSON
    source, but portals increasingly export NDJSON). Catalyst handles
    filter pushdown/pruning as with any file scan."""

    def _read(self) -> DataFrame:
        schema = self._infer_once(
            self.url, lambda: self.spark.read.json(self.url).schema)
        return self.spark.read.json(self.url, schema=schema)


class CsvLoader(_FileLoader):
    """CSV scan (reference csv_class.py:130-420). Local/`file://` paths read
    distributed; remote URLs are fetched to a local spool path on the
    driver then read distributed (the reference streams bytes through pandas
    on one thread)."""

    def __init__(self, spark, url, date_field=None, agency_field=None, query=None,
                 header: bool = True, member: Optional[str] = None):
        super().__init__(spark, url, date_field, agency_field, query)
        self.header = header
        # zip member selection (dataset_id `file` entries — reference
        # csv_class.py:64-70 reads just that member over HTTP ranges)
        self.member = member

    @functools.cached_property
    def _path(self) -> str:
        """The local path Spark reads, fetched once per loader through
        sources/httpio: a URL downloads into the spool; a ``.zip`` yields
        its ``member`` (over HTTP ranges when remote) or, with no member,
        every CSV inside it (reference csv_class.py:64-87)."""
        from openpolicedata_spark.sources import httpio

        if not self.url.lower().endswith(".zip"):
            return httpio.local_copy(self.url)
        if self.member:
            with httpio.open_zip(self.url) as z:
                name = httpio.pick_member(z.namelist(), self.member, self.url)
                with z.open(name) as src:
                    return httpio.spool(src, name)
        return self._unzip(httpio.local_copy(self.url))

    @staticmethod
    def _unzip(path: str) -> str:
        """Every CSV member of a local archive, extracted into a new spool
        directory that Spark reads whole."""
        from openpolicedata_spark.sources.httpio import SPOOL_DIR

        os.makedirs(SPOOL_DIR, exist_ok=True)
        out = tempfile.mkdtemp(dir=SPOOL_DIR)
        try:
            with zipfile.ZipFile(path) as z:
                members = [m for m in z.namelist()
                           if m.lower().endswith(".csv") and not m.endswith("/")]
                if not members:
                    raise ValueError(f"no CSV member inside {path}")
                seen: set[str] = set()
                for m in members:
                    base = os.path.basename(m)
                    if base in seen:
                        # disambiguate equal basenames from different
                        # subdirs instead of silently overwriting
                        base = m.replace("/", "__")
                    seen.add(base)
                    with z.open(m) as src, \
                            open(os.path.join(out, base), "wb") as dst:
                        shutil.copyfileobj(src, dst)
        except BaseException:
            shutil.rmtree(out, ignore_errors=True)
            raise
        return out

    @staticmethod
    def _detect_charset(path: str, sample_bytes: int = 1 << 20) -> str:
        """Driver-side probe for non-UTF-8 exports (reference csv_class.py
        opens with errors='surrogateescape' so undecodable bytes survive).
        Spark needs a declared charset instead: if a strict UTF-8 decode of
        the head fails, read as ISO-8859-1 — a total byte→char mapping, so
        like surrogateescape it loses nothing and never throws."""
        import glob

        if os.path.isdir(path):
            members = sorted(glob.glob(os.path.join(path, "*.csv")))
            if not members:
                return "UTF-8"
            path = members[0]   # zip members share the publisher's encoding
        try:
            import codecs

            with open(path, "rb") as f:
                head = f.read(sample_bytes)
            # incremental decoder (final=False) buffers a trailing
            # incomplete multibyte sequence instead of raising, so a valid
            # UTF-8 char straddling the sample boundary can't misclassify
            # the whole file as latin-1
            codecs.getincrementaldecoder("utf-8")().decode(head, False)
            return "UTF-8"
        except UnicodeDecodeError:
            return "ISO-8859-1"
        except OSError:
            return "UTF-8"

    def _read(self) -> DataFrame:
        path = self._path

        def infer():
            charset = self._detect_charset(path)
            return charset, self.spark.read.csv(
                path, header=self.header, inferSchema=True,
                encoding=charset).schema

        charset, schema = self._infer_once(path, infer)
        return self.spark.read.csv(path, header=self.header, schema=schema,
                                   encoding=charset)
