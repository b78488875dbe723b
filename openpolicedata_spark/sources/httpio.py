"""The sources layer's one remote-read path: every URL the package opens
goes through this module.

- ``open_url`` is the one ``urlopen``: one browser User-Agent (agency
  sites 403 Python's default), a timeout on every request, and one retry
  with legacy TLS renegotiation for old municipal servers that OpenSSL 3
  refuses (reference csv_class.py).
- ``spool`` copies bytes into the spool directory through a ``.part``
  file and ``os.replace``, named by the SHA-256 of the bytes. Nothing is
  looked up by URL, so a new loader sees the current bytes, and a file
  an earlier Table still reads is never rewritten.
- ``pick_member`` is the one zip-member matcher (CSV and Excel).
- ``HttpRangeFile`` is a seekable file over HTTP Range requests, a
  stdlib re-expression of the reference's ``httpio`` package (used by
  csv_class.py:64-87 ``read_zipped_csv``): ``zipfile`` reads one member
  of a remote archive with the central directory plus that member's
  span, a few small GETs instead of a full download. Its block cache is
  a bounded LRU (the reference keeps every block), and it probes length
  with a ``Range: bytes=0-0`` GET rather than a HEAD, which several
  municipal CDNs answer without Content-Length.

Driver-side plumbing only: the 100 TB path (parquet on shared storage)
never touches it.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import posixpath
import re
import ssl
import tempfile
import urllib.error
import urllib.parse
import urllib.request
import zipfile
from collections import OrderedDict
from typing import Optional

__all__ = ["BROWSER_UA", "TIMEOUT_S", "HttpIOError", "HttpRangeFile",
           "ZipMemberError", "download", "fetch_zip_member", "is_url",
           "list_zip_members", "local_copy", "open_url", "open_zip",
           "pick_member", "spool"]

BROWSER_UA = ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 "
              "(KHTML, like Gecko) Chrome/120.0 Safari/537.36")
TIMEOUT_S = 60.0   # seconds per socket operation of every file read
SPOOL_DIR = "/tmp/opdspark_spool"
_CONTENT_RANGE = re.compile(r"bytes\s+(\d+)-(\d+)/(\d+|\*)")


def is_url(path: str) -> bool:
    return str(path).startswith(("http://", "https://"))


def open_url(url: str, timeout: float, headers: Optional[dict] = None):
    """``urlopen`` with the browser UA and ``timeout``; a TLS failure
    retries once with OP_LEGACY_SERVER_CONNECT and SECLEVEL=1."""
    req = urllib.request.Request(
        url, headers={"User-Agent": BROWSER_UA, **(headers or {})})
    try:
        return urllib.request.urlopen(req, timeout=timeout)
    except OSError as e:
        if not (isinstance(e, ssl.SSLError)
                or isinstance(getattr(e, "reason", None), ssl.SSLError)):
            raise
    ctx = ssl.create_default_context()
    ctx.options |= getattr(ssl, "OP_LEGACY_SERVER_CONNECT", 0x4)
    with contextlib.suppress(ssl.SSLError):
        ctx.set_ciphers("DEFAULT@SECLEVEL=1")
    return urllib.request.urlopen(req, timeout=timeout, context=ctx)


def spool(src, name: str) -> str:
    """Copy the binary stream ``src`` to ``SPOOL_DIR/<sha256><ext>``,
    where ext is the extension of ``name`` (a URL or member name: Spark
    picks a compression codec by it), via a ``.part`` file."""
    os.makedirs(SPOOL_DIR, exist_ok=True)
    fd, part = tempfile.mkstemp(suffix=".part", dir=SPOOL_DIR)
    digest = hashlib.sha256()
    try:
        with os.fdopen(fd, "wb") as out:
            for chunk in iter(lambda: src.read(1 << 20), b""):
                digest.update(chunk)
                out.write(chunk)
        ext = posixpath.splitext(urllib.parse.urlsplit(name).path)[1]
        dest = os.path.join(SPOOL_DIR, digest.hexdigest() + ext)
        os.replace(part, dest)
    except BaseException:
        if os.path.exists(part):
            os.remove(part)
        raise
    return dest


def download(url: str) -> str:
    """A fresh spool copy of ``url``."""
    with open_url(url, TIMEOUT_S) as r:
        return spool(r, url)


def local_copy(path: str) -> str:
    """``path`` itself when local, else a fresh download of it."""
    return download(path) if is_url(path) else path


class ZipMemberError(KeyError, ValueError):
    """No single zip member matches the requested name."""


def pick_member(names: list[str], member: Optional[str], where: str) -> str:
    """``member`` if the archive holds that exact name, else the one
    name whose basename matches it case-insensitively (publishers move
    files into subfolders between releases). With no ``member``, the
    archive's only file (reference excel.py:69-82)."""
    files = [n for n in names if not n.endswith("/")]
    if member is None:
        if len(files) != 1:
            raise ValueError(
                f"More than one file found in zip file at {where}. One file"
                " must be specified if there is more than one file."
                if files else f"empty zip archive at {where}")
        return files[0]
    if member in files:
        return member
    base = posixpath.basename(member).lower()
    hits = [n for n in files if posixpath.basename(n).lower() == base]
    if len(hits) != 1:
        raise ZipMemberError(f"Unable to find file {member!r} in {where}:"
                             f" not found among {files[:20]}")
    return hits[0]


@contextlib.contextmanager
def open_zip(path: str):
    """``zipfile.ZipFile`` over a local archive, or over Range requests
    on a URL (256 KiB blocks: zipfile reads the EOCD tail plus one
    member span), or over a full download when the server refuses
    ranges."""
    if not is_url(path):
        f = open(path, "rb")
    else:
        try:
            f = HttpRangeFile(path, block_size=256 * 1024)
        except HttpIOError:
            f = open(download(path), "rb")
    with f, zipfile.ZipFile(f) as z:
        yield z


class HttpIOError(OSError):
    """Range-request failure: unsupported server, bad response, or I/O
    on a closed file."""


class HttpRangeFile(io.BufferedIOBase):
    """Read-only seekable file over HTTP Range requests with a bounded
    LRU block cache. ``bytes_fetched`` / ``requests_made`` expose wire
    cost for tests and logging."""

    def __init__(self, url: str, block_size: int = 1 << 20,
                 max_cached_blocks: int = 64):
        if block_size <= 0:
            raise ValueError("block_size must be positive")
        self.url = url
        self.block_size = block_size
        self.max_cached_blocks = max(1, max_cached_blocks)
        self.length: int | None = None
        self.bytes_fetched = 0
        self.requests_made = 0
        self._pos = 0
        self._cache: OrderedDict[int, bytes] = OrderedDict()
        self._open_probe()

    # ------------------------------------------------------------- wire

    def _request(self, start: int, end: int):
        self.requests_made += 1
        try:
            with open_url(self.url, TIMEOUT_S,
                          {"Range": f"bytes={start}-{end}"}) as r:
                body = r.read()
                # r.headers is an email.message.Message — keep it so
                # .get() stays case-insensitive (some CDNs send
                # lowercase "content-range")
                return r.status, r.headers, body
        except urllib.error.HTTPError as e:
            if e.code == 416:  # Range Not Satisfiable
                raise HttpIOError(
                    f"range {start}-{end} not satisfiable for {self.url}")
            raise HttpIOError(f"HTTP {e.code} fetching {self.url}") from e
        except urllib.error.URLError as e:
            raise HttpIOError(f"cannot reach {self.url}: {e.reason}") from e

    def _open_probe(self) -> None:
        status, headers, body = self._request(0, 0)
        if status != 206:
            raise HttpIOError(
                f"server does not support Range requests for {self.url} "
                f"(got HTTP {status} for bytes=0-0)")
        m = _CONTENT_RANGE.match(headers.get("Content-Range", ""))
        if not m or m.group(3) == "*":
            raise HttpIOError(
                "206 response lacks a total length in Content-Range "
                f"({headers.get('Content-Range')!r})")
        self.length = int(m.group(3))
        self.bytes_fetched += len(body)

    def _block(self, i: int) -> bytes:
        cached = self._cache.get(i)
        if cached is not None:
            self._cache.move_to_end(i)
            return cached
        start = i * self.block_size
        end = min(start + self.block_size, self.length) - 1
        if start > end:
            return b""
        status, headers, body = self._request(start, end)
        if status != 206:
            raise HttpIOError(
                f"server stopped honoring Range mid-file (HTTP {status})")
        want = end - start + 1
        if len(body) != want:
            raise HttpIOError(
                f"short range read: wanted {want} bytes, got {len(body)}")
        self.bytes_fetched += len(body)
        self._cache[i] = body
        while len(self._cache) > self.max_cached_blocks:
            self._cache.popitem(last=False)
        return body

    # ------------------------------------------------------ io protocol

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def seek(self, offset: int, whence: int = io.SEEK_SET) -> int:
        self._check_open()
        if whence == io.SEEK_SET:
            pos = offset
        elif whence == io.SEEK_CUR:
            pos = self._pos + offset
        elif whence == io.SEEK_END:
            pos = self.length + offset
        else:
            raise ValueError(f"bad whence {whence}")
        if pos < 0:
            raise ValueError("negative seek position")
        self._pos = pos
        return pos

    def tell(self) -> int:
        self._check_open()
        return self._pos

    def read(self, size: int | None = -1) -> bytes:
        self._check_open()
        if self._pos >= self.length:
            return b""
        if size is None or size < 0:
            size = self.length - self._pos
        size = min(size, self.length - self._pos)
        out = bytearray()
        while size > 0:
            i, off = divmod(self._pos, self.block_size)
            chunk = self._block(i)[off:off + size]
            if not chunk:
                break
            out += chunk
            self._pos += len(chunk)
            size -= len(chunk)
        return bytes(out)

    read1 = read

    def readinto(self, b) -> int:
        data = self.read(len(b))
        b[:len(data)] = data
        return len(data)

    def _check_open(self) -> None:
        if self.closed:
            raise HttpIOError("I/O on closed HttpRangeFile")

    def close(self) -> None:
        self._cache.clear()
        super().close()


# ---------------------------------------------------------------- helpers

def list_zip_members(url: str, block_size: int = 1 << 20) -> list[str]:
    """Member names of a remote zip, fetching only the central directory
    (a couple of range GETs at the archive tail)."""
    with HttpRangeFile(url, block_size=block_size) as f:
        with zipfile.ZipFile(f) as z:
            return z.namelist()


def fetch_zip_member(url: str, member: str,
                     block_size: int = 1 << 20) -> bytes:
    """Extract one member (``pick_member``) of a remote zip over Range
    requests without downloading the archive (reference
    csv_class.py:64-70: httpio + ``z.read(data_set['file'])``). Raises
    ``ZipMemberError`` when no member matches, ``HttpIOError`` when the
    server can't serve ranges."""
    with HttpRangeFile(url, block_size=block_size) as f:
        with zipfile.ZipFile(f) as z:
            return z.read(pick_member(z.namelist(), member, url))
