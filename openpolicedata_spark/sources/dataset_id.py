"""Catalog `dataset_id` normalization (reference dataset_id.py:40-141).

A catalog row's `dataset_id` can be: null, a plain string (portal dataset
key or Excel sheet/file name), a JSON dict (possibly with curly quotes
pasted from a spreadsheet), a list of dicts (multi-file dataset), or a
list of lists (datasets to JOIN on declared keys). These helpers
normalize all of that into flat `{url, file, sheets, on}` dicts the
loaders consume. Pure catalog-layer Python — no Spark involvement."""

from __future__ import annotations

import json
import re
from typing import Any, Optional


def notnull(x: Any) -> bool:
    """Lists count as present (pandas would refuse to truth-test them)."""
    if isinstance(x, (list, dict)):
        return True
    try:
        import pandas as pd

        return bool(pd.notnull(x))
    except Exception:
        return x is not None


def parse_id(x: Any) -> Any:
    """Decode a JSON-looking dataset_id string (curly quotes repaired —
    catalog entries get pasted from spreadsheets); anything else passes
    through unchanged."""
    if isinstance(x, str) and x.lstrip().startswith(("[", "{")):
        return json.loads(x.replace("“", '"').replace("”", '"'))
    return x


def parse(series):
    """Vectorized parse_id over a pandas Series (catalog load path)."""
    return series.apply(parse_id)


def expand(id: Any) -> Any:
    """Normalize a parsed dataset_id into a list of flat child dicts.

    Dicts may carry parallel `urls`/`files` arrays (length 1 arrays
    broadcast against the longer one); `sheets`/`on` apply to every
    child. Nested lists (join declarations) expand recursively, one
    inner list per join side. Null/str ids pass through."""
    if not isinstance(id, (list, dict)):
        return id
    items = id if isinstance(id, list) else [id]
    out: list = []
    for item in items:
        if isinstance(item, list):           # join side → nested expansion
            out.append(expand(item))
            continue
        urls = item.get("urls", [None])
        files = item.get("files", [None])
        urls = [urls] if isinstance(urls, str) else list(urls)
        files = [files] if isinstance(files, str) else list(files)
        sheets = item.get("sheets")
        if isinstance(sheets, str):
            sheets = [sheets]
        on = item.get("on")
        n = max(len(urls), len(files))
        if len(urls) not in (1, n) or len(files) not in (1, n):
            raise ValueError(
                f"urls/files lengths {len(urls)}/{len(files)} must be 1 or equal")
        urls = urls * n if len(urls) == 1 else urls
        files = files * n if len(files) == 1 else files
        for u, f in zip(urls, files):
            child: dict = {}
            if u:
                child["url"] = u.strip()
            if f:
                child["file"] = f.strip()
            if sheets:
                child["sheets"] = sheets
            if on:
                child["on"] = on
            out.append(child)
    return out


def is_combined_dataset(dataset: Any) -> bool:
    """True when the expanded id describes multiple loads (several files,
    any explicit url children, or a join declaration)."""
    if not isinstance(dataset, list) or not dataset:
        return False
    if isinstance(dataset[0], list):
        return True                           # join declaration
    first_file = dataset[0].get("file")
    for child in dataset:
        if "url" in child:
            return True
        if child.get("file") != first_file:
            return True
    return False


def parse_excel_dataset(is_zip: bool, id: Any) -> tuple[Optional[list], Optional[str]]:
    """Excel datasets use dataset_id for (sheets, inner file): a dict may
    declare both; a bare string is the zip member name (zip sources) or a
    sheet name (quoted sheet names keep leading zeros Excel would drop).
    Returns (sheets, file)."""
    if isinstance(id, list):
        if len(id) != 1:
            raise ValueError("excel dataset_id lists must have one entry")
        id = id[0]
    sheets = None
    file = None
    if isinstance(id, dict) and id:
        sheets = id.get("sheets")
        if sheets is not None and not isinstance(sheets, list):
            sheets = [sheets]
        file = id.get("file")
    elif isinstance(id, str):
        if re.match(r'^[“”"].+[“”"]$', id):
            id = id[1:-1]
        if is_zip:
            file = id
        else:
            sheets = [id]
    return sheets, file
