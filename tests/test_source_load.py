"""Source/Table load-path tests: date semantics, filters, counts, save/load
round trips (reference model: tests/test_loaders_general.py and
1_unit_data_source_loading consistency oracles, SURVEY §5)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from openpolicedata_spark.sources.base import clean_date_input


class TestCleanDateInput:
    def test_none_and_sentinels(self):
        assert clean_date_input(None) is None
        assert clean_date_input("MULTIPLE") is None
        assert clean_date_input("NONE") is None

    def test_single_year(self):
        lo, hi = clean_date_input(2022)
        assert lo == dt.datetime(2022, 1, 1) and hi == dt.datetime(2022, 12, 31)

    def test_year_string(self):
        lo, hi = clean_date_input("2022")
        assert lo.year == hi.year == 2022

    def test_range_mixed(self):
        lo, hi = clean_date_input([2021, "2023-02-01"])
        assert lo == dt.datetime(2021, 1, 1) and hi == dt.datetime(2023, 2, 1)

    def test_time_floored_with_warning(self):
        with pytest.warns(UserWarning, match="ignored"):
            lo, hi = clean_date_input(["2022-01-01T10:30:00", "2022-06-30"])
        assert lo == dt.datetime(2022, 1, 1)

    def test_reversed_raises(self):
        with pytest.raises(ValueError, match="less|<="):
            clean_date_input([2023, 2021])

    def test_bad_number_raises(self):
        with pytest.raises(ValueError):
            clean_date_input(123)


class TestSourceLoad:
    def test_year_filter_matches_manual(self, spark, source, sf_dir):
        t = source.load("ORDERS", 1995)
        manual = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .where(F.year("o_orderdate") == 1995)
            .count()
        )
        assert t.count() == manual

    def test_filter_vs_no_filter_consistency(self, source):
        """Loading with a date filter covering everything equals the
        unfiltered load (reference consistency oracle)."""
        full = source.load("ORDERS").count()
        wide = source.load("ORDERS", [1990, 2050]).count()
        assert full == wide

    def test_count_equals_load_len(self, source):
        n = source.get_count("ORDERS", 1996)
        assert n == source.load("ORDERS", 1996).count()

    def test_get_years(self, source):
        ys = source.get_years("ORDERS")
        assert ys == list(range(1995, 2002))

    def test_get_agencies(self, source):
        ags = source.get_agencies("CUSTOMER")
        assert "BUILDING" in ags and len(ags) == 5

    def test_agency_filter(self, source):
        t = source.load("CUSTOMER", agency="BUILDING")
        rows = t.table.select("c_mktsegment").distinct().collect()
        assert [r.c_mktsegment for r in rows] == ["BUILDING"]

    def test_nrows_offset(self, source):
        assert source.load("ORDERS", nrows=7).count() == 7
        a = source.load("ORDERS", nrows=5, offset=0, sortby="date").table.collect()
        b = source.load("ORDERS", nrows=5, offset=2, sortby="date").table.collect()
        assert a[2:4] == b[0:2] or len(b) == 5  # deterministic under sortby

    def test_roundtrip_parquet(self, source, tmp_path):
        t = source.load("ORDERS", 1995)
        p = t.to_parquet(output_dir=str(tmp_path))
        back = source.load_parquet(p)
        assert back.count() == t.count()
        assert set(back.table.columns) == set(t.table.columns)

    def test_related_tables(self, source):
        # synthetic catalog has no split families; exact-name behavior
        assert source.find_related_tables("ORDERS") == []

    def test_load_iter(self, source):
        batches = list(source.load_iter("ORDERS", 1995, nbatch=100))
        assert sum(b.count() for b in batches) == source.get_count("ORDERS", 1995)


def test_csv_loader_reads_zip(spark, tmp_path):
    """Zipped CSVs extract to a spool dir and read distributed
    (reference csv_class.py:64-87)."""
    import zipfile

    csv_text = "case,val\nC1,1\nC2,2\nC3,3\n"
    zpath = tmp_path / "data.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("inner/archive.csv", csv_text)
    from openpolicedata_spark.sources.file import CsvLoader

    loader = CsvLoader(spark, url=str(zpath))
    df = loader.load()
    assert df.count() == 3
    assert {r.case for r in df.collect()} == {"C1", "C2", "C3"}


def test_combined_loader_join_mode(spark, tmp_path, sf_dir):
    """Multi-file datasets declared as a join (reference dataset_id
    list-of-lists with `on`; combine_dataset.py:135-138 raises
    NotImplementedError — implemented here as an outer equi-join)."""
    from openpolicedata_spark.sources.combined import CombinedLoader
    from openpolicedata_spark.sources.file import (
        ParquetLoader,
        read_parquet_repaired,
    )

    ev = read_parquet_repaired(spark, f"{sf_dir}/events.parquet").limit(100)
    left = str(tmp_path / "left.parquet")
    right = str(tmp_path / "right.parquet")
    ev.select("event_id", "user_id").write.mode("overwrite").parquet(left)
    ev.select("event_id", "event_type", "value").write.mode("overwrite") \
        .parquet(right)

    combined = CombinedLoader(
        spark,
        [ParquetLoader(spark, url=left), ParquetLoader(spark, url=right)],
        how="join", on=["event_id"],
    )
    out = combined.load()
    assert set(out.columns) == {"event_id", "user_id", "event_type", "value"}
    assert out.count() == 100
    assert out.where(F.col("user_id").isNull()).count() == 0

    # declared-but-missing `on` keys fail loudly
    import pytest as _pytest

    bad = CombinedLoader(
        spark, [ParquetLoader(spark, url=left)], how="join")
    with _pytest.raises(ValueError, match="join requires"):
        bad.load()


def test_combined_loader_rename_drift(spark, tmp_path):
    """Known drifting column names across files are renamed before the
    union (reference combine_dataset.py Albemarle renames)."""
    from openpolicedata_spark.sources.combined import CombinedLoader
    from openpolicedata_spark.sources.file import ParquetLoader

    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    spark.createDataFrame([(1, "x")], "id int, offence string") \
        .write.mode("overwrite").parquet(a)
    spark.createDataFrame([(2, "y")], "id int, offense string") \
        .write.mode("overwrite").parquet(b)
    out = CombinedLoader(
        spark,
        [ParquetLoader(spark, url=a), ParquetLoader(spark, url=b)],
        rename={"offence": "offense"},
    ).load()
    assert out.columns.count("offense") == 1
    assert {r.offense for r in out.collect()} == {"x", "y"}


def test_csv_loader_detects_non_utf8_charset(spark, tmp_path):
    """Reference csv_class.py reads with errors='surrogateescape' so
    broken-encoding exports never fail; the Spark analog probes the head
    bytes and declares ISO-8859-1 when strict UTF-8 decode fails (total
    byte→char mapping — lossless, never throws)."""
    from openpolicedata_spark.sources.file import CsvLoader

    p = tmp_path / "latin1.csv"
    p.write_bytes(b"name,city\nRen\xe9e,Montr\xe9al\nJoe,Boston\n")
    rows = CsvLoader(spark, url=str(p))._read().collect()
    assert rows[0].name == "Renée" and rows[0].city == "Montréal"

    q = tmp_path / "utf8.csv"
    q.write_bytes("name\nRenée\n".encode("utf-8"))
    assert CsvLoader(spark, url=str(q))._read().collect()[0].name == "Renée"


def test_csv_loader_detects_charset_inside_zip(spark, tmp_path):
    """Zipped latin-1 CSVs get the same charset repair: detection probes
    the first extracted member."""
    import zipfile

    from openpolicedata_spark.sources.file import CsvLoader

    z = tmp_path / "data.zip"
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("inner.csv", b"name\nRen\xe9e\n")
    rows = CsvLoader(spark, url=str(z))._read().collect()
    assert rows[0].name == "Renée"


def test_csv_schema_inferred_once_per_file_version(spark, tmp_path,
                                                  count_jobs):
    """A loader infers a CSV's schema and charset once per version of the
    file: a second load of the unchanged file runs no Spark job before
    its first action, and a file rewritten between two loads is inferred
    again (its new column type shows)."""
    import os

    from openpolicedata_spark.sources.file import CsvLoader

    p = tmp_path / "t.csv"
    p.write_text("id,v\n1,10\n2,20\n")
    loader = CsvLoader(spark, url=str(p))
    first, inferred = count_jobs("csv-first", loader.load)
    again, cached = count_jobs("csv-again", loader.load)
    assert inferred > 0 and cached == 0
    assert [tuple(r) for r in again.collect()] == [(1, 10), (2, 20)]

    p.write_text("id,v\n1,x\n2,y\n3,z\n")
    os.utime(p, ns=(1, 1))   # a new version even on a coarse clock
    changed, reinferred = count_jobs("csv-changed", loader.load)
    assert reinferred > 0
    assert dict(changed.dtypes)["v"] == "string"
    assert changed.count() == 3


def test_json_schema_inferred_once_per_file_version(spark, tmp_path,
                                                   count_jobs):
    from openpolicedata_spark.sources.file import JsonLoader

    p = tmp_path / "t.json"
    p.write_text('{"id": 1, "v": "a"}\n{"id": 2, "v": "b"}\n')
    loader = JsonLoader(spark, url=str(p))
    _, inferred = count_jobs("json-first", loader.load)
    again, cached = count_jobs("json-again", loader.load)
    assert inferred > 0 and cached == 0
    assert sorted(tuple(r) for r in again.collect()) == [(1, "a"), (2, "b")]


def test_multi_file_dataset_id_routes_to_combined_loader(spark, tmp_path):
    """A list-valued dataset_id (reference multi-file datasets) must build
    a CombinedLoader over per-file children, not treat the list as a
    portal key (previously the routing existed only as a dead import)."""
    import pandas as pd

    from openpolicedata_spark.data import _make_loader
    from openpolicedata_spark.sources.combined import CombinedLoader

    (tmp_path / "a.csv").write_text("case,agency\n1,X\n2,Y\n")
    (tmp_path / "b.csv").write_text("case,agency\n3,Z\n")
    row = pd.Series({
        "DataType": "CSV",
        "URL": str(tmp_path),
        "dataset_id": '[{"files": ["a.csv", "b.csv"]}]',
        "date_field": None,
        "agency_field": "agency",
        "query": None,
    })
    loader = _make_loader(spark, row)
    assert isinstance(loader, CombinedLoader)
    df = loader.load()
    assert df.count() == 3
    assert loader.load(agency="Z").count() == 1

    # scalar ids still build the plain loader
    row2 = row.copy()
    row2["dataset_id"] = None
    row2["URL"] = str(tmp_path / "a.csv")
    from openpolicedata_spark.sources.file import CsvLoader

    assert isinstance(_make_loader(spark, row2), CsvLoader)


def test_read_parquet_repaired_microsecond_units_native(spark, tmp_path):
    """Round-4 insurance: the testdata generator switches ts units
    between rounds (ns in rounds 1-3, us in round 4). Microsecond
    timestamps must read NATIVELY (no nanosAsLong repair) with correct
    values, and the streaming probe must agree."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from openpolicedata_spark.sources.file import read_parquet_repaired
    from openpolicedata_spark.streaming import _ts_is_nanos

    ts = [datetime.datetime(2024, 1, 1, 0, 0, i, 123456) for i in range(5)]
    table = pa.table({
        "event_id": pa.array(range(5), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([1] * 5, pa.int64()),
    })
    p = str(tmp_path / "events_us.parquet")
    pq.write_table(table, p)
    df = read_parquet_repaired(spark, p)
    assert dict(df.dtypes)["ts"].startswith("timestamp")
    rows = sorted(r["ts"] for r in df.select("ts").collect())
    assert rows[0].microsecond == 123456
    assert not _ts_is_nanos(p)


def test_read_parquet_repaired_nanosecond_units_repaired(spark, tmp_path):
    """And the ns form keeps repairing (rounds 1-3 testdata)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from openpolicedata_spark.sources.file import read_parquet_repaired
    from openpolicedata_spark.streaming import _ts_is_nanos

    base_ns = 1_704_067_200_000_000_000  # 2024-01-01 UTC
    table = pa.table({
        "event_id": pa.array(range(3), pa.int64()),
        "ts": pa.array([base_ns + i * 1_000_000_000 + 123_456_789
                        for i in range(3)], pa.timestamp("ns")),
    })
    p = str(tmp_path / "events_ns.parquet")
    pq.write_table(table, p)
    df = read_parquet_repaired(spark, p)
    assert dict(df.dtypes)["ts"].startswith("timestamp")
    r0 = min(r["ts"] for r in df.select("ts").collect())
    # ns truncates to us on repair
    assert r0.year == 2024 and r0.microsecond == 123_456
    assert _ts_is_nanos(p)


def test_portal_table_fetches_each_page_once(spark, tmp_path, count_jobs):
    """A portal Table is one snapshot: load (date + agency pushdown) ->
    standardize -> expand -> to_parquet fetches every page exactly once,
    although identification samples the table and the write reads it
    again. Source.load itself starts no Spark job (the fetch happens at
    the first action)."""
    from openpolicedata_spark.catalog import Catalog
    from openpolicedata_spark.data import Source
    from openpolicedata_spark.sources.portals.testing import (
        LoggingPortal,
        make_rows,
        read_requests,
    )
    from openpolicedata_spark.sources.portals.transport import FakeTransport
    from openpolicedata_spark.sources.rest import make_rest_loader

    rows = make_rows(300, date_text="mmddyyyy")
    log = str(tmp_path / "requests.jsonl")
    server = LoggingPortal("socrata", log, rows=rows, date_text="mmddyyyy")
    cat = Catalog([dict(
        State="Ohio", SourceName="Columbus", Agency="MULTIPLE",
        TableType="STOPS", Year="MULTIPLE", DataType="Socrata",
        URL="fake.portal", dataset_id="abcd-1234",
        date_field="incident_date", agency_field="agency")])
    src = Source("Columbus", catalog=cat, spark=spark)

    def loader(row):
        ld = make_rest_loader(spark, row["DataType"], row,
                              transport=FakeTransport(handler=server))
        ld.page_size = 10
        return ld

    src._get_loader = loader
    t, load_jobs = count_jobs(
        "load-fetch-once",
        lambda: src.load("STOPS", 2020, agency="Springfield PD"))
    assert load_jobs == 0
    t.standardize().expand()
    out = t.to_parquet(str(tmp_path / "stops"))

    pages = [(p.get("$where"), int(p["$offset"]), int(p["$limit"]))
             for _, p in read_requests(log) if "$offset" in p]
    assert pages, "no page requests were logged"
    repeated = {pg: pages.count(pg) for pg in set(pages) if pages.count(pg) > 1}
    assert not repeated, f"pages fetched more than once: {repeated}"
    want = sum(1 for r in rows if r["agency"] == "Springfield PD"
               and r["incident_date"].endswith("/2020"))
    assert want and spark.read.parquet(out).count() == want


def test_socrata_row_loads_through_production_factory(spark, monkeypatch):
    """A Socrata catalog row resolves through the same factory as every
    other portal, so a sub-year date range, `agency=` and the row's
    static `query` predicate all hold. Only the transport is swapped:
    the loader probes the text date format itself (the catalog carries
    none)."""
    from openpolicedata_spark import data
    from openpolicedata_spark.catalog import Catalog
    from openpolicedata_spark.data import Source
    from openpolicedata_spark.sources.portals.testing import FakePortal
    from openpolicedata_spark.sources.portals.transport import (
        FakeTransport,
        encode_transport,
    )
    from openpolicedata_spark.sources.portals.where import DateFormat

    server = FakePortal("socrata", date_text="mmddyyyy")
    made = []

    def make_loader(spark_, row):
        ld = real_make_loader(spark_, row)
        ld.transport_pickle = encode_transport(FakeTransport(handler=server))
        made.append(ld)
        return ld

    real_make_loader = data._make_loader
    monkeypatch.setattr(data, "_make_loader", make_loader)
    cat = Catalog([dict(
        State="Ohio", SourceName="Columbus", Agency="MULTIPLE",
        TableType="STOPS", Year="MULTIPLE", DataType="Socrata",
        URL="https://fake.portal.test", dataset_id="abcd-1234",
        date_field="incident_date", agency_field="agency",
        query={"category": "STOP"})])
    src = Source("Columbus", catalog=cat, spark=spark)
    t = src.load("STOPS", ["2020-03-01", "2020-08-31"],
                 agency="Springfield PD")

    (loader,) = made
    assert loader.format_name == "opd_socrata"
    assert loader.date_format == DateFormat.MMDDYYYY_TEXT

    def in_range(d):
        m, day, y = map(int, d.split("/"))
        return dt.date(2020, 3, 1) <= dt.date(y, m, day) <= dt.date(2020, 8, 31)

    want = sorted(r["case_id"] for r in server.rows
                  if r["agency"] == "Springfield PD"
                  and r["category"] == "STOP" and in_range(r["incident_date"]))
    got = sorted(r.case_id for r in t.table.select("case_id").collect())
    assert want and got == want


def _import_forks(tree):
    """(line, module) for every import of a module outside the stdlib and
    the required dependencies, inside a `try` whose handler catches
    ImportError or ModuleNotFoundError."""
    import ast
    import sys

    allowed = set(sys.stdlib_module_names) | {
        "openpolicedata_spark", "pyspark", "pandas", "numpy", "pyarrow"}
    caught = {"ImportError", "ModuleNotFoundError"}

    def catches_import_error(handler):
        t = handler.type
        names = t.elts if isinstance(t, ast.Tuple) else [t]
        return any(isinstance(n, ast.Name) and n.id in caught for n in names)

    forks = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Try)
                and any(catches_import_error(h) for h in node.handlers)):
            continue
        for stmt in node.body:
            for sub in ast.walk(stmt):
                if isinstance(sub, ast.Import):
                    mods = [a.name for a in sub.names]
                elif isinstance(sub, ast.ImportFrom) and not sub.level:
                    mods = [sub.module]
                else:
                    continue
                forks += [(sub.lineno, m) for m in mods
                          if m.split(".")[0] not in allowed]
    return forks


def test_no_reader_is_selected_by_an_optional_import():
    """Each input has one reader: no module picks a parser by which
    third-party libraries happen to be installed (a try/except
    ImportError around an optional import swaps in an untested reader
    for the same bytes)."""
    import ast
    import pathlib

    import openpolicedata_spark

    root = pathlib.Path(openpolicedata_spark.__file__).parent
    forks = [(py.relative_to(root).as_posix(), line, mod)
             for py in sorted(root.rglob("*.py"))
             for line, mod in _import_forks(ast.parse(py.read_text()))]
    assert not forks, forks


def test_import_fork_guard_sees_both_handler_spellings():
    import ast

    src = ("try:\n    import lxml\nexcept ImportError:\n    pass\n"
           "try:\n    from rapidfuzz import fuzz\n"
           "except (ValueError, ModuleNotFoundError):\n    pass\n"
           "try:\n    import json\nexcept ImportError:\n    pass\n")
    assert _import_forks(ast.parse(src)) == [(2, "lxml"), (6, "rapidfuzz")]
