"""HTTP Range-request zip reading (sources/httpio.py) against a real
local socket server — the reference analog is httpio/__init__.py +
csv_class.py:64-87 read_zipped_csv(data_set=...), which extracts one
member of a remote archive without downloading it."""

from __future__ import annotations

import io
import re
import threading
import zipfile
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pytest

from openpolicedata_spark.sources.httpio import (
    HttpIOError,
    HttpRangeFile,
    fetch_zip_member,
    list_zip_members,
)

_RANGE = re.compile(r"bytes=(\d+)-(\d+)$")


class _RangeHandler(BaseHTTPRequestHandler):
    def do_GET(self):
        srv = self.server
        blob = srv.blob
        rng = self.headers.get("Range")
        srv.n_requests += 1
        if rng and srv.allow_range:
            m = _RANGE.match(rng)
            if not m:
                self.send_response(400)
                self.end_headers()
                return
            a, b = int(m.group(1)), int(m.group(2))
            if a >= len(blob):
                self.send_response(416)
                self.end_headers()
                return
            b = min(b, len(blob) - 1)
            body = blob[a:b + 1]
            srv.bytes_served += len(body)
            self.send_response(206)
            self.send_header("Content-Range",
                             f"bytes {a}-{b}/{len(blob)}")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        else:
            srv.bytes_served += len(blob)
            self.send_response(200)
            self.send_header("Content-Length", str(len(blob)))
            self.end_headers()
            self.wfile.write(blob)

    def log_message(self, *a):
        pass


@pytest.fixture
def serve():
    servers = []

    def start(blob: bytes, allow_range: bool = True) -> str:
        srv = ThreadingHTTPServer(("127.0.0.1", 0), _RangeHandler)
        srv.blob = blob
        srv.allow_range = allow_range
        srv.bytes_served = 0
        srv.n_requests = 0
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        return srv, f"http://127.0.0.1:{srv.server_address[1]}/data.zip"

    yield start
    for srv in servers:
        srv.shutdown()
        srv.server_close()


def _zip_with(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in members.items():
            z.writestr(name, data)
    return buf.getvalue()


def _big_archive() -> tuple[bytes, bytes]:
    """~3 MB archive: one huge incompressible member + one small CSV."""
    rng = np.random.default_rng(7)
    pad = rng.integers(0, 256, size=3_000_000, dtype=np.uint8).tobytes()
    small = b"a,b\n1,2\n3,4\n"
    return _zip_with({"padding.bin": pad,
                      "subdir/small.csv": small}), small


def test_seek_read_matches_bytesio(serve):
    blob = bytes(range(256)) * 50  # 12800 bytes
    srv, url = serve(blob)
    ref = io.BytesIO(blob)
    f = HttpRangeFile(url, block_size=512)
    r = np.random.default_rng(3)
    for _ in range(60):
        off = int(r.integers(0, len(blob) + 100))
        n = int(r.integers(0, 700))
        whence = int(r.choice([0, 2]))
        if whence == 2:
            off = -min(off, len(blob))
        f.seek(off, whence)
        ref.seek(off, whence)
        assert f.read(n) == ref.read(n)
        assert f.tell() == ref.tell()
    assert f.read() == ref.read()
    f.close()
    with pytest.raises(HttpIOError, match="closed"):
        f.read(1)


def test_member_fetch_downloads_fraction(serve):
    blob, small = _big_archive()
    srv, url = serve(blob)
    got = fetch_zip_member(url, "subdir/small.csv", block_size=64 * 1024)
    assert got == small
    # central directory + one small member only — a full download would
    # be ~3 MB
    assert srv.bytes_served < 400_000, srv.bytes_served


def test_member_fetch_basename_fallback(serve):
    blob, small = _big_archive()
    srv, url = serve(blob)
    assert fetch_zip_member(url, "SMALL.csv",
                            block_size=64 * 1024) == small
    with pytest.raises(KeyError, match="not found"):
        fetch_zip_member(url, "nope.csv", block_size=64 * 1024)


def test_list_members_is_cheap(serve):
    blob, _ = _big_archive()
    srv, url = serve(blob)
    assert list_zip_members(url, block_size=64 * 1024) == [
        "padding.bin", "subdir/small.csv"]
    assert srv.bytes_served < 200_000, srv.bytes_served


def test_no_range_support_raises(serve):
    blob = _zip_with({"x.csv": b"a\n1\n"})
    srv, url = serve(blob, allow_range=False)
    with pytest.raises(HttpIOError, match="Range"):
        HttpRangeFile(url)


def test_block_cache_no_refetch(serve):
    blob = bytes(range(256)) * 8
    srv, url = serve(blob)
    f = HttpRangeFile(url, block_size=1024)
    f.read()
    n = srv.n_requests
    f.seek(0)
    f.read()  # fully cached: zero extra requests
    assert srv.n_requests == n
    f.close()


def test_lru_cache_bounded(serve):
    blob = bytes(range(256)) * 40  # 10240 bytes = 10 blocks of 1 KiB
    srv, url = serve(blob)
    f = HttpRangeFile(url, block_size=1024, max_cached_blocks=2)
    f.read()
    assert len(f._cache) <= 2
    f.close()


def test_truncated_range_response_detected(serve):
    """A server that lies about Content-Range totals is caught by the
    short-read check instead of silently corrupting the stream."""
    blob = b"x" * 100
    srv, url = serve(blob)
    f = HttpRangeFile(url, block_size=64)
    f.length = 500  # simulate a server whose probe overstated the size
    f.seek(0)
    with pytest.raises(HttpIOError, match="short range read|not satisfiable"):
        f.read(400)
    f.close()


# ------------------------------------------------- CsvLoader integration

def test_csv_loader_member_range_path(spark, serve):
    from openpolicedata_spark.sources.file import CsvLoader

    blob, _ = _big_archive()
    srv, url = serve(blob)
    loader = CsvLoader(spark, url=url, member="small.csv")
    df = loader.load()
    assert df.count() == 2
    assert [int(r.a) for r in df.orderBy("a").collect()] == [1, 3]
    assert srv.bytes_served < 600_000  # range path, not a full download


def test_csv_loader_member_fallback_full_download(spark, serve):
    from openpolicedata_spark.sources.file import CsvLoader

    blob, _ = _big_archive()
    srv, url = serve(blob, allow_range=False)
    loader = CsvLoader(spark, url=url, member="small.csv")
    df = loader.load()
    assert df.count() == 2  # same rows via download+extract fallback


def test_csv_loader_member_missing_raises(spark, serve):
    from openpolicedata_spark.sources.file import CsvLoader

    blob, _ = _big_archive()
    srv, url = serve(blob, allow_range=False)
    loader = CsvLoader(spark, url=url, member="ghost.csv")
    with pytest.raises((KeyError, ValueError), match="not found"):
        loader.load()


def test_dataset_id_zip_member_routes_to_csv_member(spark):
    """A catalog row whose dataset_id lists `files` under a zip URL must
    produce CsvLoader children with member= set (reference reads
    data_set['file'] out of the archive), not urljoined fake paths."""
    import pandas as pd

    from openpolicedata_spark.data import _make_loader
    from openpolicedata_spark.sources.combined import CombinedLoader

    row = pd.Series({
        "DataType": "CSV",
        "URL": "http://example.test/archive.zip",
        "dataset_id": [{"files": ["a.csv", "b.csv"]}],
        "date_field": None, "agency_field": None, "query": None,
    })
    loader = _make_loader(spark, row)
    assert isinstance(loader, CombinedLoader)
    kids = loader.children
    assert [k.member for k in kids] == ["a.csv", "b.csv"]
    assert all(k.url == "http://example.test/archive.zip" for k in kids)


# ------------------------------------------------- ExcelLoader zip path

def _xlsx_zip(members: dict[str, dict]) -> bytes:
    """Zip archive whose members are real xlsx workbooks (built by the
    test_native_parsers SpreadsheetML writer)."""
    from tests.test_native_parsers import make_xlsx

    return _zip_with({name: make_xlsx(sheets)
                      for name, sheets in members.items()})


_SHEET = {"Data": [["a", "b"], [1, 2], [3, 4]]}


def test_excel_loader_zip_member_over_ranges(spark, serve):
    from openpolicedata_spark.sources.excel import ExcelLoader

    from tests.test_native_parsers import make_xlsx

    rng_local = np.random.default_rng(9)
    pad = rng_local.integers(0, 256, size=2_000_000,
                             dtype=np.uint8).tobytes()
    blob = _zip_with({"padding.bin": pad,
                      "reports/Y2020.xlsx": make_xlsx(_SHEET)})
    srv, url = serve(blob)
    df = ExcelLoader(spark, url=url, member="Y2020.xlsx").load()
    assert df.count() == 2
    assert srv.bytes_served < 600_000  # ranges, not the 2 MB archive


def test_excel_loader_zip_single_member_default(spark, serve):
    from tests.test_native_parsers import make_xlsx

    from openpolicedata_spark.sources.excel import ExcelLoader

    blob = _zip_with({"only.xlsx": make_xlsx(_SHEET)})
    srv, url = serve(blob)
    assert ExcelLoader(spark, url=url).load().count() == 2


def test_excel_loader_zip_multi_member_requires_selection(spark, serve):
    from tests.test_native_parsers import make_xlsx

    from openpolicedata_spark.sources.excel import ExcelLoader

    blob = _zip_with({"a.xlsx": make_xlsx(_SHEET),
                      "b.xlsx": make_xlsx(_SHEET)})
    srv, url = serve(blob, allow_range=False)  # also covers the fallback
    with pytest.raises(ValueError, match="More than one file"):
        ExcelLoader(spark, url=url).load()
    assert ExcelLoader(spark, url=url, member="b.xlsx").load().count() == 2
    with pytest.raises(ValueError, match="Unable to find"):
        ExcelLoader(spark, url=url, member="ghost.xlsx").load()


def test_excel_loader_local_zip(spark, tmp_path):
    from tests.test_native_parsers import make_xlsx

    from openpolicedata_spark.sources.excel import ExcelLoader

    p = tmp_path / "arch.zip"
    p.write_bytes(_zip_with({"wb.xlsx": make_xlsx(_SHEET)}))
    assert ExcelLoader(spark, url=str(p)).load().count() == 2


def test_scalar_excel_dataset_id_routes_sheets_and_member(spark):
    """Reference excel.py:70: a scalar dataset_id is a zip member name
    for zip URLs and a sheet filter otherwise — previously dropped."""
    import pandas as pd

    from openpolicedata_spark.data import _make_loader

    base = {"date_field": None, "agency_field": None, "query": None}
    row = pd.Series({**base, "DataType": "Excel",
                     "URL": "http://x.test/arch.zip",
                     "dataset_id": "inner.xlsx"})
    ld = _make_loader(spark, row)
    assert ld.member == "inner.xlsx" and ld.sheet_filter is None
    row = pd.Series({**base, "DataType": "Excel",
                     "URL": "http://x.test/file.xlsx",
                     "dataset_id": "2020"})
    ld = _make_loader(spark, row)
    assert ld.sheet_filter == ["2020"] and ld.member is None


def test_excel_loader_encrypted_workbook_inside_zip(spark, serve):
    """Compose the layers: a VelvetSweatshop standard-encrypted workbook
    inside a remote zip — range fetch → CFB sniff → AES decrypt →
    stdlib xlsx parse → Spark."""
    from tests.test_msoffice_crypto import encrypt_standard
    from tests.test_native_parsers import make_xlsx

    from openpolicedata_spark.sources.excel import ExcelLoader

    enc = encrypt_standard(make_xlsx(_SHEET))
    srv, url = serve(_zip_with({"enc.xlsx": enc}))
    df = ExcelLoader(spark, url=url).load()
    assert df.count() == 2


def test_excel_loader_rc4_xls_inside_zip(spark, serve):
    """Legacy RC4-encrypted .xls inside a remote zip — the deepest
    nesting of the new paths (ranges → zip → CFB → RC4 → BIFF8)."""
    from tests.test_xls_rc4 import _encrypted_workbook

    from openpolicedata_spark.sources.excel import ExcelLoader

    blob, _ = _encrypted_workbook(scheme="std", n_rows=4)
    srv, url = serve(_zip_with({"legacy.xls": blob}))
    df = ExcelLoader(spark, url=url).load()
    assert df.count() == 3  # row 0 is the header


def test_excel_loader_xlsx_named_dot_zip_not_treated_as_archive(
        spark, tmp_path):
    """A workbook whose own filename contains '.zip' (an .xlsx IS a zip)
    must load as a workbook, not be misrouted into the member-archive
    path — detected via the OOXML [Content_Types].xml marker."""
    from tests.test_native_parsers import make_xlsx

    from openpolicedata_spark.sources.excel import ExcelLoader

    p = tmp_path / "export.zip.xlsx"
    p.write_bytes(make_xlsx(_SHEET))
    assert ExcelLoader(spark, url=str(p)).load().count() == 2


def test_excel_loader_remote_xlsx_named_dot_zip(spark, serve):
    from tests.test_native_parsers import make_xlsx

    from openpolicedata_spark.sources.excel import ExcelLoader

    srv, url = serve(make_xlsx(_SHEET))  # url ends .zip but IS an xlsx
    assert ExcelLoader(spark, url=url).load().count() == 2


# ------------------------------------------------- one remote-read path

def test_only_httpio_opens_urls():
    """Every URL the package opens goes through sources/httpio: no other
    module names `urlopen`, so UA, timeout and TLS policy live in one
    place."""
    import ast
    import pathlib

    import openpolicedata_spark

    root = pathlib.Path(openpolicedata_spark.__file__).parent
    openers = []
    for py in sorted(root.rglob("*.py")):
        rel = py.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(py.read_text())):
            name = (node.id if isinstance(node, ast.Name)
                    else node.attr if isinstance(node, ast.Attribute)
                    else None)
            aliases = ([a.name for a in node.names]
                       if isinstance(node, (ast.Import, ast.ImportFrom))
                       else [])
            if name == "urlopen" or "urlopen" in aliases:
                openers.append(rel)
                break
    assert [m for m in openers if m != "sources/httpio.py"] == [], openers


def test_excel_loader_remote_plain_workbook(spark, serve):
    """A workbook URL without ".zip" downloads and parses like a local
    file."""
    from tests.test_native_parsers import make_xlsx

    from openpolicedata_spark.sources.excel import ExcelLoader

    srv, url = serve(make_xlsx(_SHEET))
    url = url.replace("/data.zip", "/a.xlsx")
    assert ExcelLoader(spark, url=url).load().count() == 2


def test_changed_remote_csv_reaches_a_new_loader(spark, serve):
    """One loader downloads once; a new loader over the same URL sees the
    publisher's new bytes, and a Table from the first keeps its own."""
    from openpolicedata_spark.sources.file import CsvLoader

    srv, url = serve(b"a,b\n1,2\n3,4\n")
    url = url.replace("/data.zip", "/data.csv")
    first = CsvLoader(spark, url=url)
    old = first.load()
    assert sorted(int(r.a) for r in old.collect()) == [1, 3]
    assert first.load().count() == 2
    assert srv.n_requests == 1
    srv.blob = b"a,b\n5,6\n7,8\n9,10\n"
    new = CsvLoader(spark, url=url).load()
    assert sorted(int(r.a) for r in new.collect()) == [5, 7, 9]
    assert sorted(int(r.a) for r in old.collect()) == [1, 3]


@pytest.fixture
def stalled_url():
    """A URL whose server accepts the connection (the kernel's listen
    backlog) and never answers."""
    import socket

    sock = socket.socket()
    sock.bind(("127.0.0.1", 0))
    sock.listen(4)
    yield f"http://127.0.0.1:{sock.getsockname()[1]}/data.csv"
    sock.close()


def _raises_within(fn, seconds: float):
    """Run fn in a daemon thread; return what it raised, failing the test
    when it is still blocked after `seconds`."""
    out = {}

    def run():
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 - handed to the test
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"still blocked after {seconds} s"
    assert "error" in out, "returned instead of raising"
    return out["error"]


def test_csv_load_from_stalled_server_times_out(spark, stalled_url,
                                                monkeypatch):
    import urllib.error

    from openpolicedata_spark.sources import httpio
    from openpolicedata_spark.sources.file import CsvLoader

    monkeypatch.setattr(httpio, "TIMEOUT_S", 1.0)
    err = _raises_within(CsvLoader(spark, url=stalled_url).load, 10)
    assert isinstance(err, (TimeoutError, urllib.error.URLError)), err


def test_transport_retries_a_timed_out_request(stalled_url):
    """A portal request that times out is transient, like a refused
    connection: retried, then a TransportError."""
    from openpolicedata_spark.sources.portals.transport import (
        HttpTransport,
        TransportError,
    )

    t = HttpTransport(timeout_s=0.5, retries=1, backoff_s=0.01, sleep_s=0)
    err = _raises_within(lambda: t.get_bytes(stalled_url), 10)
    assert isinstance(err, TransportError), err
