"""Minimal stdlib .xlsx reader (zipfile + xml.etree) — no openpyxl needed.

Parity: /root/reference/openpolicedata/data_loaders/excel.py:128-213 parses
workbooks via pandas/openpyxl. An .xlsx file is just a ZIP of SpreadsheetML
XML, so this module — ``ExcelLoader``'s only .xlsx reader — implements the
subset agencies' published workbooks actually use:

- workbook.xml + workbook.xml.rels  → ordered sheet names → part paths
- sharedStrings.xml                 → shared-string table (with rich-text runs)
- worksheets/sheetN.xml             → cells: shared/inline strings, numbers,
                                      booleans, formula cached values
- styles.xml                        → date-formatted numeric cells → datetime
                                      (Excel serial dates, 1900 epoch + the
                                      Lotus leap-year bug)

Output is ``{sheet_name: pd.DataFrame}`` of raw unlabeled grids (header=None
shape), exactly what ``ExcelLoader``'s repair pipeline consumes — so the
messy-workbook logic (merged headers, repeated headers, year sheets) now runs
end-to-end from real file bytes instead of injected grids.

Legacy .xls (BIFF) is ``sources/xls``'s job, and VelvetSweatshop-encrypted
containers are decrypted by ``sources/msoffice_crypto`` before they reach
this reader. Charts and pivots are ignored by design.
"""

from __future__ import annotations

import datetime as _dt
import io
import re
import xml.etree.ElementTree as ET
import zipfile
from typing import Union

import pandas as pd

_MAIN_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_RID_ATTR = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
             "relationships}id")

# Built-in numFmtIds that render as dates/times (ECMA-376 §18.8.30).
_BUILTIN_DATE_FMTS = set(range(14, 23)) | set(range(45, 48))
# Custom format codes count as dates when they use y/m/d/h/s tokens outside
# quoted literals and color/condition brackets.
_FMT_STRIP = re.compile(r'"[^"]*"|\[[^\]]*\]')
_FMT_DATE_TOKEN = re.compile(r"[ymdhs]", re.IGNORECASE)

_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")

# Excel serial day 0 is 1899-12-30 (serial 60 is the phantom 1900-02-29 kept
# for Lotus 1-2-3 compatibility; serials >= 61 are shifted by the bug, which
# the 1899-12-30 epoch absorbs for all modern dates).
_EPOCH = _dt.datetime(1899, 12, 30)


def _is_date_fmt(code: str) -> bool:
    return bool(_FMT_DATE_TOKEN.search(_FMT_STRIP.sub("", code)))


def _col_index(ref: str) -> int:
    """'A'→0, 'Z'→25, 'AA'→26 …"""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _serial_to_datetime(serial: float):
    if serial < 61:  # pre-bug serials (and times-only < 1) use the 1899-12-31 epoch
        base = _dt.datetime(1899, 12, 31)
    else:
        base = _EPOCH
    out = base + _dt.timedelta(days=serial)
    # round sub-millisecond float fuzz from the day fraction
    micro = round(out.microsecond, -3)
    if micro == 1_000_000:
        out = out.replace(microsecond=0) + _dt.timedelta(seconds=1)
    else:
        out = out.replace(microsecond=micro)
    return out


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        data = z.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    out = []
    for si in ET.fromstring(data).iter(f"{_MAIN_NS}si"):
        # plain <t> or rich-text runs <r><t>; concatenate all text nodes
        out.append("".join(t.text or "" for t in si.iter(f"{_MAIN_NS}t")))
    return out


def _date_styles(z: zipfile.ZipFile) -> set[int]:
    """Style indexes (cell ``s`` attribute) whose number format is a date."""
    try:
        root = ET.fromstring(z.read("xl/styles.xml"))
    except KeyError:
        return set()
    custom = {}
    for fmt in root.iter(f"{_MAIN_NS}numFmt"):
        custom[int(fmt.get("numFmtId"))] = fmt.get("formatCode", "")
    date_ids = set(_BUILTIN_DATE_FMTS)
    date_ids |= {i for i, code in custom.items() if _is_date_fmt(code)}
    styles = set()
    xfs = root.find(f"{_MAIN_NS}cellXfs")
    if xfs is not None:
        for i, xf in enumerate(xfs.findall(f"{_MAIN_NS}xf")):
            if int(xf.get("numFmtId", "0")) in date_ids:
                styles.add(i)
    return styles


def _sheet_parts(z: zipfile.ZipFile) -> dict[str, str]:
    """Ordered sheet name → zip member path, via workbook rels."""
    rels = {}
    for rel in ET.fromstring(z.read("xl/_rels/workbook.xml.rels")).iter(
            f"{_REL_NS}Relationship"):
        target = rel.get("Target").lstrip("/")
        if not target.startswith("xl/"):
            target = "xl/" + target
        rels[rel.get("Id")] = target
    parts = {}
    for sheet in ET.fromstring(z.read("xl/workbook.xml")).iter(
            f"{_MAIN_NS}sheet"):
        parts[sheet.get("name")] = rels[sheet.get(_RID_ATTR)]
    return parts


def _cell_value(cell: ET.Element, shared: list[str], date_styles: set[int]):
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        is_el = cell.find(f"{_MAIN_NS}is")
        if is_el is None:
            return None
        return "".join(t.text or "" for t in is_el.iter(f"{_MAIN_NS}t"))
    v = cell.find(f"{_MAIN_NS}v")
    if v is None or v.text is None:
        return None
    text = v.text
    if ctype == "s":
        return shared[int(text)]
    if ctype == "str":  # formula cached string
        return text
    if ctype == "b":
        return text == "1"
    if ctype == "e":
        return None
    num = float(text)
    if int(cell.get("s", "-1")) in date_styles and num >= 0:
        return _serial_to_datetime(num)
    if num == int(num) and abs(num) < 2**52:
        return int(num)
    return num


def _parse_sheet(data: bytes, shared: list[str],
                 date_styles: set[int]) -> pd.DataFrame:
    rows: dict[int, dict[int, object]] = {}
    ncols = 0
    seq_row = 0
    for row in ET.fromstring(data).iter(f"{_MAIN_NS}row"):
        r_idx = int(row.get("r", seq_row + 1)) - 1
        seq_row = r_idx + 1
        cells: dict[int, object] = {}
        seq_col = 0
        for cell in row.findall(f"{_MAIN_NS}c"):
            ref = cell.get("r")
            if ref:
                m = _CELL_REF.match(ref)
                c_idx = _col_index(m.group(1)) if m else seq_col
            else:
                c_idx = seq_col
            seq_col = c_idx + 1
            val = _cell_value(cell, shared, date_styles)
            if val is not None:
                cells[c_idx] = val
                ncols = max(ncols, c_idx + 1)
        if cells:
            rows[r_idx] = cells
    if not rows:
        return pd.DataFrame()
    nrows = max(rows) + 1
    grid = [[rows.get(r, {}).get(c) for c in range(ncols)]
            for r in range(nrows)]
    return pd.DataFrame(grid, dtype=object)


def read_xlsx(source: Union[str, bytes, io.IOBase],
              ) -> dict[str, pd.DataFrame]:
    """Parse an .xlsx file (path, bytes, or binary file object) into raw
    unlabeled grids, one ``pd.DataFrame`` per sheet in workbook order.
    Cell coordinates are honored, so sparse sheets keep their gaps (None)."""
    if isinstance(source, bytes):
        source = io.BytesIO(source)
    with zipfile.ZipFile(source) as z:
        shared = _shared_strings(z)
        date_styles = _date_styles(z)
        return {
            name: _parse_sheet(z.read(part), shared, date_styles)
            for name, part in _sheet_parts(z).items()
        }
