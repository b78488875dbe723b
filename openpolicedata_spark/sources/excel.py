"""Excel loader: messy-workbook repair (driver-side pandas) → Spark union.

Parity: /root/reference/openpolicedata/data_loaders/excel.py —
multi-row/merged-cell header reconstruction (:504-629), repeated header
rows + sub-table removal (:406-501), blank-space cleanup (:631-665),
trailing junk trimming (:668-712), "year sheets" detection incl. typo
repair (:215-253), fuzzy cross-sheet column reconciliation (:311-337).

Spark mapping (SURVEY.md §2.1): workbooks are small, so parsing is a
driver-side pandas pre-parse; each repaired sheet becomes a Spark
DataFrame and sheets concatenate with
``unionByName(allowMissingColumns=True)``. The raw grids come from the
stdlib readers — ``sources/xlsx`` (.xlsx), ``sources/xls`` (legacy BIFF)
and ``sources/msoffice_crypto`` (VelvetSweatshop decryption) — whatever
else is installed; everything after the raw grid is tested on plain
DataFrames. A remote workbook, plain or inside a zip, is fetched once per
loader through ``sources/httpio`` (the package's one remote-read path);
the readers always see a local spool file. Cells load as text; dates
are parsed by the loaders' one date layer (``functions/datetime``).
"""

from __future__ import annotations

import difflib
import functools
import re
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openpolicedata_spark.sources import httpio
from openpolicedata_spark.sources.file import _FileLoader

_YEAR_RE = re.compile(r"^(19|20)\d{2}$")


# ---------------------------------------------------------------------------
# grid repair (reference excel.py:406-712) — pure pandas, no Spark
# ---------------------------------------------------------------------------

def find_header_rows(raw: pd.DataFrame, max_scan: int = 10) -> list[int]:
    """Locate the header row(s) in an unlabeled grid: skip leading title /
    blank rows (rows with ≤1 non-null cell), then take consecutive rows
    until a row looks like data (reference __find_column_names
    excel.py:504-629). A header row is mostly strings and introduces no
    numerics."""
    start = 0
    for i in range(min(max_scan, len(raw))):
        if raw.iloc[i].notna().sum() > 1:
            start = i
            break
    rows = [start]
    # a second header row (merged-cell spans) is mostly-string and the row
    # after it still looks header-ish only if the FIRST row has gaps
    # (merged parents leave NaNs under the span)
    first = raw.iloc[start]
    if first.isna().any() and start + 1 < len(raw):
        nxt = raw.iloc[start + 1]
        vals = nxt.dropna()
        if len(vals) and all(isinstance(v, str) and not _num_like(v) for v in vals):
            rows.append(start + 1)
    return rows


def _num_like(v) -> bool:
    try:
        float(str(v).replace(",", ""))
        return True
    except ValueError:
        return False


def rebuild_columns(raw: pd.DataFrame, header_rows: list[int]) -> list[str]:
    """Merged-cell header reconstruction: forward-fill the parent row across
    the span, then join parent/child names (reference excel.py:504-629)."""
    if len(header_rows) == 1:
        return [str(c).strip() if pd.notna(c) else f"col_{i}"
                for i, c in enumerate(raw.iloc[header_rows[0]])]
    parent = raw.iloc[header_rows[0]].ffill()
    child = raw.iloc[header_rows[1]]
    cols = []
    for i, (p, c) in enumerate(zip(parent, child)):
        p = str(p).strip() if pd.notna(p) else ""
        c = str(c).strip() if pd.notna(c) else ""
        cols.append(f"{p} {c}".strip() if p and c and p != c else (c or p or f"col_{i}"))
    return cols


def strip_repeated_headers(df: pd.DataFrame) -> pd.DataFrame:
    """Drop data rows that replicate the header (multi-page exports repeat
    it; reference __find_repeated_columns_names excel.py:406-501)."""
    header = [str(c).strip().lower() for c in df.columns]
    mask = df.apply(
        lambda r: [str(v).strip().lower() if pd.notna(v) else "" for v in r] == header,
        axis=1,
    )
    return df[~mask]


def trim_junk_rows(df: pd.DataFrame, null_frac: float = 0.75) -> pd.DataFrame:
    """Remove trailing all-null / >75%-null footer rows and rows whose only
    content is an iterating row number (reference excel.py:373-382,
    631-665)."""
    keep_until = len(df)
    for i in range(len(df) - 1, -1, -1):
        row = df.iloc[i]
        frac = row.isna().mean()
        only_num = row.notna().sum() == 1 and _num_like(row.dropna().iloc[0])
        if frac == 1.0 or frac > null_frac or only_num:
            keep_until = i
        else:
            break
    return df.iloc[:keep_until]


def repair_sheet(raw: pd.DataFrame) -> pd.DataFrame:
    """Full repair pipeline on an unlabeled grid (header=None parse)."""
    hdr = find_header_rows(raw)
    cols = rebuild_columns(raw, hdr)
    body = raw.iloc[hdr[-1] + 1:].reset_index(drop=True)
    body.columns = cols
    body = body.dropna(axis=1, how="all")
    body = strip_repeated_headers(body)
    body = trim_junk_rows(body)
    return body.reset_index(drop=True)


# ---------------------------------------------------------------------------
# year sheets + column reconciliation (reference excel.py:215-337)
# ---------------------------------------------------------------------------

def detect_year_sheets(sheet_names: list[str]) -> Optional[dict[str, int]]:
    """If (almost) every sheet name is a year, map sheet → year, repairing
    digit-transposition typos like '2104' (reference excel.py:215-253)."""
    out: dict[str, int] = {}
    for name in sheet_names:
        s = str(name).strip()
        if _YEAR_RE.match(s):
            out[name] = int(s)
        elif re.match(r"^\d{4}$", s):
            digits = sorted(s)
            for cand in range(1990, 2100):
                if sorted(str(cand)) == digits:
                    out[name] = cand
                    break
    return out if len(out) == len(sheet_names) and out else None


def reconcile_columns(frames: dict[str, pd.DataFrame],
                      threshold: float = 0.8) -> dict[str, pd.DataFrame]:
    """Unify near-identical column names across sheets (typos drift between
    years). Reference uses rapidfuzz ratio > 80 (excel.py:311-337); difflib
    SequenceMatcher is the stdlib equivalent. First-seen name wins."""
    canon: list[str] = []
    out = {}
    for key, df in frames.items():
        renames = {}
        for c in df.columns:
            cl = str(c).strip()
            match = None
            for known in canon:
                if cl.lower() == known.lower():
                    match = known
                    break
                if difflib.SequenceMatcher(None, cl.lower(), known.lower()).ratio() > threshold:
                    match = known
                    break
            if match is None:
                canon.append(cl)
            elif match != c:
                renames[c] = match
        out[key] = df.rename(columns=renames) if renames else df
    return out


# ---------------------------------------------------------------------------
# loader
# ---------------------------------------------------------------------------

class ExcelLoader(_FileLoader):
    """Workbook → repaired sheets → Spark ``unionByName`` (reference
    excel.py:24-398). Tests and offline use may inject pre-parsed grids
    via ``sheets=``."""

    # the Year column of a year-sheet workbook, set by each _read from
    # the memoized repair
    _year_column: Optional[str] = None

    def __init__(self, spark: SparkSession, url: str,
                 date_field: Optional[str] = None,
                 agency_field: Optional[str] = None,
                 query: Optional[dict] = None,
                 sheets: Optional[dict[str, pd.DataFrame]] = None,
                 sheet_filter: Optional[list[str]] = None,
                 member: Optional[str] = None):
        super().__init__(spark, url, date_field, agency_field, query)
        self._sheets = sheets
        self.sheet_filter = sheet_filter
        # workbook-inside-zip selection (reference excel.py:69-82:
        # dataset_id names the member; a single-member archive needs no
        # name; multiple members without one is an error)
        self.member = member

    @functools.cached_property
    def _workbook(self) -> str:
        """Local path of the workbook, fetched once per loader through
        sources/httpio: a URL downloads into the spool; a ".zip" archive
        yields its ``member``, or its only file (reference excel.py:69-82),
        over HTTP ranges when remote. An archive holding
        ``[Content_Types].xml`` is itself the workbook (an .xlsx is an
        OOXML zip whose own name contained ".zip")."""
        if ".zip" in self.url.lower():
            with httpio.open_zip(self.url) as z:
                names = z.namelist()
                if "[Content_Types].xml" not in names:
                    name = httpio.pick_member(names, self.member, self.url)
                    with z.open(name) as src:
                        return httpio.spool(src, name)
        return httpio.local_copy(self.url)

    @staticmethod
    def _maybe_decrypt(path_or_buf):
        """Excel's default-password encryption: workbooks saved with
        password 'VelvetSweatshop' open transparently in Excel, so public
        agencies publish them thinking they're plain files (reference
        excel.py:128-153 decrypts via msoffcrypto). The stdlib decryptor
        (sources/msoffice_crypto.py) is the only one; it covers both
        ECMA-376 schemes — standard (AES-ECB + SHA-1) and agile (4.4 XML
        descriptor, AES-CBC segments). It sniffs the CFB magic first (a
        plain .xlsx is a zip, never CFB) and rewinds a buffer after the
        sniff, so plain workbooks pass through untouched."""
        import io

        from openpolicedata_spark.sources.msoffice_crypto import (
            decrypt_office,
            is_encrypted_office,
        )

        if isinstance(path_or_buf, (str, bytes)):
            with open(path_or_buf, "rb") as f:
                head = f.read(8)
                if head[:4] != b"\xd0\xcf\x11\xe0":
                    return path_or_buf
                data = head + f.read()
        else:
            data = path_or_buf.read()
            path_or_buf.seek(0)
            if data[:4] != b"\xd0\xcf\x11\xe0":
                return path_or_buf
        if is_encrypted_office(data):
            return io.BytesIO(decrypt_office(data))
        return path_or_buf

    def _raw_sheets(self) -> dict[str, pd.DataFrame]:
        if self._sheets is not None:
            return self._sheets
        src = self._maybe_decrypt(self._workbook)
        # legacy BIFF sniff: a plain .xls is a CFB container (an encrypted
        # workbook has already been decrypted to OOXML zip bytes above)
        if isinstance(src, str):
            with open(src, "rb") as f:
                head = f.read(4)
        else:
            head = src.read(4)
            src.seek(0)
        if head[:2] in (b"\x09\x00", b"\x09\x02", b"\x09\x04"):
            # raw (non-CFB) BIFF2/3/4 worksheet stream — Excel 2.x-4.0
            from openpolicedata_spark.sources.xls import (
                looks_like_raw_biff, read_xls)
            if isinstance(src, str):
                with open(src, "rb") as f:
                    raw = f.read()
            else:
                raw = src.read()
                src.seek(0)
            if looks_like_raw_biff(raw):
                return read_xls(raw)
        if head == b"\xd0\xcf\x11\xe0":
            from openpolicedata_spark.sources.xls import (
                XlsError, looks_like_xls, read_xls)
            if isinstance(src, str):
                with open(src, "rb") as f:
                    raw = f.read()
            else:
                raw = src.read()
                src.seek(0)
            if not looks_like_xls(raw):
                raise XlsError(
                    "CFB container has no BIFF Workbook stream "
                    "(not a legacy .xls)")
            # stdlib BIFF8 reader (sources/xls.py) — same raw-grid
            # contract as read_xlsx
            return read_xls(raw)
        # .xlsx is a ZIP of SpreadsheetML — parse it directly
        # (sources/xlsx.py)
        from openpolicedata_spark.sources.xlsx import read_xlsx
        return read_xlsx(src)

    def _repaired(self) -> tuple[dict[str, pd.DataFrame], dict]:
        """The repaired sheets and their year-sheet years."""
        raw = self._raw_sheets()
        if self.sheet_filter:
            raw = {k: v for k, v in raw.items() if k in self.sheet_filter}
        repaired = {name: repair_sheet(grid) for name, grid in raw.items()}
        years = detect_year_sheets(list(repaired))
        return reconcile_columns(repaired), years

    def _read(self) -> DataFrame:
        # one parse and repair per workbook version; injected sheets have
        # no file
        repaired, years = (self._repaired() if self._sheets is not None
                           else self._infer_once(self._workbook, self._repaired))
        sdfs = []
        for name, pdf in repaired.items():
            if pdf.empty:
                continue
            pdf = pdf.astype(str).where(pdf.notna(), None)
            sdf = self.spark.createDataFrame(pdf)
            if years:
                # per-sheet Year column injection (reference excel.py:340-357)
                sdf = sdf.withColumn("Year", F.lit(years[name]))
            sdfs.append(sdf)
        if not sdfs:
            raise ValueError(f"no usable sheets in {self.url}")
        self._year_column = "Year" if years else None
        df = sdfs[0]
        for other in sdfs[1:]:
            df = df.unionByName(other, allowMissingColumns=True)
        return df

    def _date_column(self) -> Optional[str]:
        # year-sheet workbooks filter on the injected Year column when the
        # dataset has no date column (reference excel.py:340-357)
        return self.date_field or self._year_column
