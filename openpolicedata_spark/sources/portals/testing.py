"""Offline fake portal servers for tests and demos.

The reference's test suite hits live city portals (SURVEY.md §5); we
replace the network with deterministic in-memory servers that implement
each portal's request protocol (count pushdown, paging, WHERE evaluation)
so loader behavior — including *inaccurate* text-date pushdown + residual
filtering — is exercised end-to-end without a socket.

Lives in the package (not tests/) because executor workers must import
the handler class when the FakeTransport pickle ships with a reader.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import urllib.parse
from typing import Any, Optional

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def make_rows(n: int = 300, date_text: str = "iso") -> list[dict]:
    """Deterministic synthetic incident rows spanning 2019-2021.

    date_text: how the `incident_date` column is *stored* by the portal —
    'iso' | 'epoch_ms' | 'yyyymmdd' | 'mmddyyyy' | 'month_abbrev' |
    'yyyyq' | 'year'.
    """
    rows = []
    base = _dt.datetime(2019, 1, 1, 6, 30)
    agencies = ["Springfield PD", "Shelbyville PD", "Capital City PD"]
    cats = ["ARREST", "STOP", "CITATION", "WARNING"]
    for i in range(n):
        ts = base + _dt.timedelta(hours=i * 87 % 26280, minutes=i % 60)
        if ts.year > 2021:
            ts = ts.replace(year=2019 + i % 3)
        if date_text == "epoch_ms":
            d: Any = int(ts.timestamp() * 1000)
        elif date_text == "yyyymmdd":
            d = ts.strftime("%Y%m%d")
        elif date_text == "mmddyyyy":
            d = f"{ts.month}/{ts.day}/{ts.year}"
        elif date_text == "month_abbrev":
            d = f"{_MONTHS[ts.month - 1]} {ts.day}, {ts.year}"
        elif date_text == "yyyyq":
            d = f"{ts.year} Q{(ts.month - 1) // 3 + 1}"
        elif date_text == "year":
            d = ts.year
        else:
            d = ts.strftime("%Y-%m-%dT%H:%M:%S")
        rows.append({
            "case_id": f"C{i:05d}",
            "incident_date": d,
            "agency": agencies[i % 3],
            "category": cats[i % 4],
            "value": (i * 17) % 100,
        })
    return rows


# ---------------------------------------------------------------------------
# mini WHERE evaluator over the clause shapes our builders emit
# ---------------------------------------------------------------------------

_BETWEEN = re.compile(r"^(\w+) between '(.+?)' and '(.+?)'$", re.I)
_CMP = re.compile(r"^\"?(\w+)\"? *(>=|<=|>|<) *(.+)$")
_IN = re.compile(r"^\"?(\w+)\"? in \((.+)\)$", re.I)
_LIKE = re.compile(r"^\"?(\w+)\"? like ['\"](.+)['\"]$", re.I)
_LOWER_LIKE = re.compile(r"^lower\(\"?(\w+)\"?\) like '(.+)'$", re.I)
_LOWER_EQ = re.compile(r"^lower\(\"?(\w+)\"?\) *= *'(.+)'$", re.I)
_EQ = re.compile(r"^\"?(\w+)\"? *= *(.+)$")


def _parse_literal(s: str) -> Any:
    s = s.strip()
    m = re.match(r"^(?:TIMESTAMP\s*)?'(.+)'$", s) or re.match(r'^date\'(.+)\'$', s)
    if m:
        lit = m.group(1)
        for fmt in ("%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
            try:
                return _dt.datetime.strptime(lit, fmt)
            except ValueError:
                pass
        return lit
    try:
        return int(s)
    except ValueError:
        try:
            return float(s)
        except ValueError:
            return s


def _coerce_pair(val: Any, lit: Any, epoch_field: bool):
    if isinstance(lit, _dt.datetime):
        if epoch_field and isinstance(val, (int, float)):
            return _dt.datetime.utcfromtimestamp(val / 1000.0), lit
        if isinstance(val, str):
            for fmt in ("%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
                try:
                    return _dt.datetime.strptime(val, fmt), lit
                except ValueError:
                    pass
        return val, lit.strftime("%Y-%m-%dT%H:%M:%S")
    return val, lit


def eval_where(row: dict, where: Optional[str],
               epoch_fields: frozenset = frozenset()) -> bool:
    if not where:
        return True
    for cond in re.split(r"\s+AND\s+", where):
        cond = cond.strip()
        # strip only MATCHED wrapping parens — a bare strip("()") would eat
        # the closing paren of "f in (2019)"
        while cond.startswith("(") and cond.endswith(")"):
            cond = cond[1:-1].strip()
        if cond.replace(" ", "") == "1=1":
            continue
        if not _eval_cond(row, cond, epoch_fields):
            return False
    return True


def _eval_cond(row: dict, cond: str, epoch_fields) -> bool:
    m = _BETWEEN.match(cond)
    if m:
        f, lo, hi = m.groups()
        v, lo = _coerce_pair(row.get(f), _parse_literal(f"'{lo}'"), f in epoch_fields)
        _, hi = _coerce_pair(row.get(f), _parse_literal(f"'{hi}'"), f in epoch_fields)
        return v is not None and lo <= v <= hi
    m = _LOWER_EQ.match(cond)
    if m:
        f, lit = m.groups()
        v = row.get(f)
        return v is not None and str(v).lower() == lit
    m = _LOWER_LIKE.match(cond)
    if m:
        f, pat = m.groups()
        v = row.get(f)
        rx = "^" + re.escape(pat).replace("%", ".*") + "$"
        return v is not None and re.match(rx, str(v).lower()) is not None
    m = _LIKE.match(cond)
    if m:
        f, pat = m.groups()
        v = row.get(f)
        rx = "^" + re.escape(pat).replace("%", ".*") + "$"
        return v is not None and re.match(rx, str(v)) is not None
    m = _IN.match(cond)
    if m:
        f, items = m.groups()
        vals = [_parse_literal(x) for x in items.split(",")]
        return row.get(f) in vals or str(row.get(f)) in {str(x) for x in vals}
    m = _CMP.match(cond)
    if m:
        f, op, lit = m.groups()
        v, litv = _coerce_pair(row.get(f), _parse_literal(lit), f in epoch_fields)
        if v is None:
            return False
        try:
            return {"<": v < litv, "<=": v <= litv,
                    ">": v > litv, ">=": v >= litv}[op]
        except TypeError:
            return False
    m = _EQ.match(cond)
    if m:
        f, lit = m.groups()
        litv = _parse_literal(lit)
        return row.get(f) == litv or str(row.get(f)) == str(litv)
    raise ValueError(f"fake portal can't evaluate: {cond!r}")


# ---------------------------------------------------------------------------
# portal protocol handlers (picklable: module-level class, plain attrs)
# ---------------------------------------------------------------------------

class FakePortal:
    """``handler(url, params)`` implementing one portal's protocol over an
    in-memory row list. Use with FakeTransport(handler=FakePortal(...))."""

    def __init__(self, portal: str, rows: Optional[list[dict]] = None,
                 date_text: str = "iso", max_record_count: int = 1000,
                 wkid: Optional[int] = None):
        self.portal = portal
        self.rows = rows if rows is not None else make_rows(date_text=date_text)
        self.date_text = date_text
        self.max_record_count = max_record_count
        # arcgis only: layer CRS; row keys _geo_x/_geo_y are served as
        # feature geometry in that CRS (stripped from attributes)
        self.wkid = wkid
        self.epoch_fields = frozenset(
            {"incident_date"} if date_text == "epoch_ms" else set())

    # -- helpers -------------------------------------------------------------
    def _filtered(self, where: Optional[str]) -> list[dict]:
        return [r for r in self.rows if eval_where(r, where, self.epoch_fields)]

    def _project(self, rows: list[dict], select: Optional[str]) -> list[dict]:
        if not select or select.strip() == "*":
            return rows
        cols = [c.strip().strip('"') for c in select.split(",")]
        return [{c: r.get(c) for c in cols} for r in rows]

    # -- dispatch ------------------------------------------------------------
    def __call__(self, url: str, params: Optional[dict]) -> Any:
        params = dict(params or {})
        return getattr(self, f"_handle_{self.portal}")(url, params)

    def _handle_socrata(self, url: str, p: dict) -> Any:
        sel = p.get("$select")
        rows = self._filtered(p.get("$where"))
        if sel and re.match(r"count\(\*\)", sel, re.I):
            return [{"count": str(len(rows))}]
        if sel and sel.upper().startswith("DISTINCT"):
            f = sel.split(None, 1)[1].strip()
            return [{f: v} for v in sorted({r.get(f) for r in rows} - {None})]
        lo = int(p.get("$offset", 0))
        hi = lo + int(p.get("$limit", len(rows)))
        return self._project(rows[lo:hi], None if sel == "*" else sel)

    def _handle_arcgis(self, url: str, p: dict) -> Any:
        if not url.rstrip("/").endswith("/query"):
            fields = [{"name": "incident_date", "type": "esriFieldTypeDate"}] \
                if self.date_text == "epoch_ms" else []
            meta = {"maxRecordCount": self.max_record_count, "fields": fields}
            if self.wkid is not None:
                meta["extent"] = {"spatialReference": {"wkid": self.wkid}}
            return meta
        rows = self._filtered(p.get("where"))
        if str(p.get("returnCountOnly", "")).lower() == "true":
            return {"count": len(rows)}
        lo = int(p.get("resultOffset", 0))
        hi = lo + int(p.get("resultRecordCount", len(rows)))
        out = self._project(rows[lo:hi], p.get("outFields"))
        feats = []
        for r in out:
            attrs = {k: v for k, v in r.items()
                     if k not in ("_geo_x", "_geo_y")}
            feat: dict = {"attributes": attrs}
            if "_geo_x" in r:
                feat["geometry"] = {"x": r["_geo_x"], "y": r["_geo_y"]}
            feats.append(feat)
        resp: dict = {"features": feats}
        if self.wkid is not None:
            resp["spatialReference"] = {"wkid": self.wkid}
        return resp

    def _handle_ckan(self, url: str, p: dict) -> Any:
        sql = p["sql"]
        m = re.match(
            r'^SELECT (.*?) FROM "(.+?)"(?: WHERE (.*?))?'
            r'(?: ORDER BY "_id" OFFSET (\d+) LIMIT (\d+))?$', sql)
        if not m:
            raise ValueError(f"fake ckan can't parse: {sql!r}")
        cols, _ds, where, off, lim = m.groups()
        rows = self._filtered(where)
        if re.match(r"COUNT\(\*\)", cols, re.I):
            return {"success": True, "result": {"records": [{"count": len(rows)}]}}
        if cols.upper().startswith("DISTINCT"):
            f = cols.split(None, 1)[1].strip().strip('"')
            recs = [{f: v} for v in sorted({r.get(f) for r in rows} - {None})]
            return {"success": True, "result": {"records": recs}}
        lo = int(off or 0)
        hi = lo + int(lim) if lim else len(rows)
        out = [dict(r, _id=i + 1, _full_text="'x'") for i, r in
               enumerate(rows)][lo:hi]
        return {"success": True,
                "result": {"records": self._project_keep_service(out, cols)}}

    def _project_keep_service(self, rows: list[dict], cols: str) -> list[dict]:
        if cols.strip() == "*":
            return rows
        names = [c.strip().strip('"') for c in cols.split(",")]
        return [{c: r.get(c) for c in names} for r in rows]

    def _handle_carto(self, url: str, p: dict) -> Any:
        q = p["q"]
        m = re.match(
            r"^SELECT (.*?) FROM (\S+)(?: WHERE (.*?))?"
            r"(?: ORDER BY cartodb_id OFFSET (\d+) LIMIT (\d+))?$", q)
        if not m:
            raise ValueError(f"fake carto can't parse: {q!r}")
        cols, _ds, where, off, lim = m.groups()
        rows = self._filtered(where)
        if re.match(r"count\(\*\)", cols, re.I):
            return {"rows": [{"count": len(rows)}]}
        lo = int(off or 0)
        hi = lo + int(lim) if lim else len(rows)
        out = [dict(r, cartodb_id=i + 1) for i, r in enumerate(rows)][lo:hi]
        return {"rows": self._project_keep_service(out, cols)}

    def _handle_ods(self, url: str, p: dict) -> Any:
        rows = self._filtered(p.get("where"))
        lo = int(p.get("offset", 0))
        lim = int(p.get("limit", 100))
        if lo + lim > 10_000:
            raise ValueError("ODS: offset+limit exceeds the 10000-row window")
        return {"total_count": len(rows), "results": rows[lo:lo + lim]}


class LoggingPortal(FakePortal):
    """A FakePortal that appends each request to ``log_path`` as one JSON
    line ``[url, params]``. Portal reads run in Python workers, so a file
    is how the driver sees which requests were made (``read_requests``)."""

    def __init__(self, portal: str, log_path: str, **kw):
        super().__init__(portal, **kw)
        self.log_path = log_path

    def __call__(self, url: str, params: Optional[dict]) -> Any:
        with open(self.log_path, "a") as f:
            f.write(json.dumps([url, dict(params or {})]) + "\n")
        return super().__call__(url, params)


def read_requests(log_path: str) -> list[tuple[str, dict]]:
    """The ``(url, params)`` requests a LoggingPortal served, in log order."""
    try:
        with open(log_path) as f:
            return [tuple(json.loads(line)) for line in f]
    except FileNotFoundError:
        return []
