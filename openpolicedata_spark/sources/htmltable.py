"""Stdlib HTML table extractor (html.parser) — no lxml/bs4 needed.

Parity: /root/reference/openpolicedata/data_loaders/html.py:10-194 parses
pages with ``pd.read_html`` (lxml engine). This module is ``HtmlLoader``'s
only parser: it extracts ``<table>`` elements with the stdlib
``html.parser``, covering what agency pages actually use:

- ``<th>``/``<td>`` cells, ``<thead>``/``<tbody>`` sections
- ``colspan``/``rowspan`` (values replicated across the span, matching
  pandas' behavior)
- nested tables (each table is returned separately; inner text is not
  duplicated into the outer table's cell)
- a first-row-of-``<th>`` header, falling back to the first row when no
  ``<th>`` is present (pd.read_html ``header=0`` behavior)

Returns ``list[pd.DataFrame]`` like ``pd.read_html``; ``HtmlLoader``
asserts exactly one table, as the reference does.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd


def _span(val) -> int:
    """Tolerant colspan/rowspan parse: hand-written agency HTML carries
    values like '100%' or '2 ' — pd.read_html tolerates them, so we fall
    back to 1 instead of crashing the whole page parse."""
    try:
        return max(1, int(str(val).strip()))
    except (TypeError, ValueError):
        return 1


class _TolerantDeclMixin:
    """CPython's html.parser delegates ``<!...`` / ``<![...`` regions to
    _markupbase, which raises BARE AssertionError on malformed marked
    sections and doctype subsets ('<![<script>', junk inside an internal
    subset) — found by the round-9 tag-soup fuzz. Real crawl data hits
    this; recover the way browsers treat bogus markup: swallow up to
    and including the next '>' (or to EOF) as an ignored declaration
    and keep parsing. Applied to BOTH parsers in this module."""

    def parse_declaration(self, i: int) -> int:
        try:
            return super().parse_declaration(i)
        except AssertionError:
            k = self.rawdata.find(">", i)
            return k + 1 if k >= 0 else len(self.rawdata)

    def parse_marked_section(self, i: int, report: int = 1) -> int:
        try:
            return super().parse_marked_section(i, report)
        except AssertionError:
            k = self.rawdata.find(">", i)
            return k + 1 if k >= 0 else len(self.rawdata)


class _TableBuilder:
    """Accumulates cells into sparse {col: value} rows. Rowspan cells park
    in ``_pending`` and occupy their column in later rows, so new cells in
    those rows flow AROUND the spanned column (pandas semantics)."""

    def __init__(self):
        self.rows: list[dict[int, object]] = []
        self.header_flags: list[dict[int, bool]] = []
        self._row: dict[int, object] | None = None
        self._flags: dict[int, bool] | None = None
        self._cursor = 0
        # col → [remaining_rows, value, is_th]
        self._pending: dict[int, list] = {}

    def open_row(self):
        self._row, self._flags = {}, {}
        self._cursor = 0

    def close_row(self):
        if self._row is None:
            return
        # columns still claimed by rowspans fill in even past the last cell
        for col, (rem, val, is_th) in list(self._pending.items()):
            self._row[col] = val
            self._flags[col] = is_th
            if rem - 1 <= 0:
                del self._pending[col]
            else:
                self._pending[col][0] = rem - 1
        if self._row:
            self.rows.append(self._row)
            self.header_flags.append(self._flags)
        self._row = self._flags = None

    def add_cell(self, text: str, colspan: int, rowspan: int, is_th: bool):
        if self._row is None:  # malformed: cell outside <tr>
            self.open_row()
        val = text.strip()
        val = val if val else None
        placed = 0
        while placed < colspan:
            col = self._cursor
            if col in self._pending:  # spanned from above — skip over it
                self._cursor += 1
                continue
            self._row[col] = val
            self._flags[col] = is_th
            if rowspan > 1:
                self._pending[col] = [rowspan, val, is_th]
            self._cursor += 1
            placed += 1

    def to_frame(self) -> pd.DataFrame:
        if not self.rows:
            return pd.DataFrame()
        width = max(max(r) + 1 for r in self.rows if r)
        rows = [[r.get(c) for c in range(width)] for r in self.rows]
        header_idx = None
        for i, flags in enumerate(self.header_flags):
            if flags and all(flags.values()):
                header_idx = i
                break
        if header_idx is None:
            header_idx = 0
        cols = [str(c) if c is not None else f"col_{i}"
                for i, c in enumerate(rows[header_idx])]
        body = rows[header_idx + 1:]
        return pd.DataFrame(body, columns=cols, dtype=object)


class _TableParser(_TolerantDeclMixin, HTMLParser):
    _SKIP = {"script", "style"}

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.tables: list[pd.DataFrame] = []
        self._stack: list[_TableBuilder] = []
        self._cell_text: list[str] = []
        self._in_cell: list[bool] = []  # per table on the stack
        self._cell_attrs: list[tuple[int, int, bool]] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip_depth += 1
            return
        if tag == "table":
            self._stack.append(_TableBuilder())
            self._in_cell.append(False)
            return
        if not self._stack:
            return
        t = self._stack[-1]
        if tag == "tr":
            t.open_row()
        elif tag in ("td", "th"):
            if self._in_cell[-1]:
                self._flush_cell()
            d = dict(attrs)
            self._cell_attrs.append((
                _span(d.get("colspan")),
                _span(d.get("rowspan")),
                tag == "th",
            ))
            self._cell_text.append("")
            self._in_cell[-1] = True
        elif tag == "br" and self._in_cell[-1]:
            self._cell_text[-1] += " "

    def handle_endtag(self, tag):
        if tag in self._SKIP:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if not self._stack:
            return
        if tag in ("td", "th"):
            if self._in_cell[-1]:
                self._flush_cell()
        elif tag == "tr":
            if self._in_cell[-1]:
                self._flush_cell()
            self._stack[-1].close_row()
        elif tag == "table":
            if self._in_cell[-1]:
                self._flush_cell()
            self._stack[-1].close_row()
            done = self._stack.pop()
            self._in_cell.pop()
            self.tables.append(done.to_frame())

    def _flush_cell(self):
        text = self._cell_text.pop()
        colspan, rowspan, is_th = self._cell_attrs.pop()
        self._stack[-1].add_cell(text, colspan, rowspan, is_th)
        self._in_cell[-1] = False

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._stack and self._in_cell and self._in_cell[-1]:
            self._cell_text[-1] += data


def read_html_tables(html: str) -> list[pd.DataFrame]:
    """Extract every ``<table>`` from an HTML document as a DataFrame
    (innermost tables first for nested markup, matching parse order).
    Tables whose ``</table>`` is missing at EOF are flushed, not dropped
    (html.parser does not synthesize close tags)."""
    p = _TableParser()
    p.feed(html)
    p.close()
    while p._stack:  # unclosed <table> at EOF
        p.handle_endtag("table")
    return [t for t in p.tables if not t.empty or len(t.columns)]


# NO \v on purpose (round-9 review): HTML5's "ASCII whitespace" is
# exactly space/\t/\n/\f/\r, and RE2's \s — what the q176 DuckDB
# oracle collapses with — is the same set, while Python's str.split
# and Java's \s both include \v. A vertical tab is CONTENT here.
_ASCII_WS = re.compile("[ \t\n\r\f]+")
_TEXT_SKIP_TAGS = {"script", "style", "noscript", "template", "head",
                   "svg", "iframe", "title"}
_TEXT_BLOCK_TAGS = {"p", "div", "br", "li", "tr", "td", "th", "table",
                    "ul", "ol", "dl", "dt", "dd", "section", "article",
                    "header", "footer", "nav", "aside", "main",
                    "blockquote", "pre", "hr", "form", "figure",
                    "figcaption", "h1", "h2", "h3", "h4", "h5", "h6"}


class _TextExtractor(_TolerantDeclMixin, HTMLParser):
    """Boilerplate-stripping HTML → text (the trafilatura-shaped step a
    web-corpus pipeline runs before quality/dedup — FineWeb §3.1;
    stdlib-only like the table parser above): content inside
    script/style/head/svg/… is dropped entirely, BLOCK-level tag
    boundaries flush the current inline run as one text block
    (internal whitespace collapsed, edges stripped, entities decoded
    by convert_charrefs), and the result is blocks joined with
    newlines. Deterministic by construction — q176 pins it against a
    generative SQL replay (build HTML from known text, extract,
    compare against the expected string assembled in DuckDB)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip = 0
        self._buf: list[str] = []
        self.blocks: list[str] = []

    def _flush(self) -> None:
        # HTML5 ASCII whitespace ONLY (not str.split(), whose Unicode
        # \s eats \xa0/ /\x85, and not \v, which RE2 excludes): the
        # q176 oracle collapses with RE2 '\s+', so a page containing
        # NBSP or a vertical tab must round-trip identically.
        text = " ".join(
            t for t in _ASCII_WS.split("".join(self._buf)) if t)
        self._buf = []
        if text:
            self.blocks.append(text)

    def handle_starttag(self, tag, attrs):
        if tag in _TEXT_SKIP_TAGS:
            self._skip += 1
        elif tag in _TEXT_BLOCK_TAGS and not self._skip:
            # block tags INSIDE a dropped region must not create
            # boundaries: the same visible content would otherwise
            # split differently depending on invisible markup
            # (review pass 3: 'a<iframe><p>x</p></iframe>b')
            self._flush()

    def handle_endtag(self, tag):
        if tag in _TEXT_SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag in _TEXT_BLOCK_TAGS and not self._skip:
            self._flush()

    def handle_startendtag(self, tag, attrs):
        if tag in _TEXT_BLOCK_TAGS and not self._skip:
            self._flush()

    def handle_data(self, data):
        if not self._skip:
            self._buf.append(data)


def html_to_text(html: str) -> str:
    """Extract readable text from an HTML document: one line per
    block-level region, inline whitespace collapsed, entities decoded,
    script/style/head content dropped. Tolerant of unclosed tags and
    attribute junk (html.parser's recovery rules)."""
    p = _TextExtractor()
    p.feed(html)
    p.close()
    p._flush()
    return "\n".join(p.blocks)
