"""Fake portal server with its own handler timing.

Portal reads run in Spark's Python workers, so the handler cannot add to
an in-process counter; when ``log_path`` is set, each request appends
``seconds<TAB>records`` to that file. The benchmark sums the file as
``portals.server_s`` / ``portals.requests`` / ``portals.rows_fetched``.
"""

from __future__ import annotations

import time
from typing import Any, Optional

from openpolicedata_spark.sources.portals.testing import FakePortal


def _records(out: Any) -> int:
    if isinstance(out, list):
        return len(out)
    if isinstance(out, dict):
        for key in ("features", "results", "rows"):
            if isinstance(out.get(key), list):
                return len(out[key])
    return 0


class TimedPortal(FakePortal):
    def __init__(self, portal: str, rows: list[dict],
                 log_path: Optional[str] = None, **kw):
        super().__init__(portal, rows=rows, **kw)
        self.log_path = log_path

    def __call__(self, url: str, params: Optional[dict]) -> Any:
        t0 = time.perf_counter()
        out = super().__call__(url, params)
        if self.log_path:
            with open(self.log_path, "a") as f:
                f.write(f"{time.perf_counter() - t0:.6f}\t{_records(out)}\n")
        return out


def read_log(path: str) -> tuple[int, int, float]:
    """(requests, records served, handler seconds) from a portal log."""
    n = rows = 0
    secs = 0.0
    try:
        with open(path) as f:
            for line in f:
                s, r = line.split("\t")
                n, rows, secs = n + 1, rows + int(r), secs + float(s)
    except FileNotFoundError:
        pass
    return n, rows, secs
