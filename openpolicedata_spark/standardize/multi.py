"""Multi-person cell detection + array-valued standardization.

Parity: /root/reference/openpolicedata/preproc.py:1623-1944
(`check_for_multiple`: MultType election by delimiter-count agreement
across demographic columns) and _converters.py:908-1142 (`std_list`,
`std_counts`, `std_demo_col` parsing). The reference normalizes
"N people in one row" cells into dicts {person_idx: value}; per SURVEY
§1.3 the Spark encoding is `ArrayType` and `Table.expand` becomes
`arrays_zip` + `posexplode` (operators/expand.py).

Detection runs driver-side on the identification sample (never a data
scan); application compiles to `split`/`transform`/`regexp_extract_all`/
`flatten` SQL wrapping the SAME scalar LUT used for single-person
columns — one code path for category mapping.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import Enum
from typing import Callable, Optional

import pandas as pd
from pyspark.sql import Column

from openpolicedata_spark.functions.sqltext import ColumnOrName, bind, lit, sql_fn

# candidate person delimiters, election order (reference preproc.py:1784-1860)
DELIMITERS = [",", "|", ";", "/", "\n"]

_COUNTS_RE = re.compile(r"^\s*\d+\s*[-–x×]\s*\S")        # "2 - White"
_MULT_RE = re.compile(r"^\s*\S+?\s*[x×]\s*\d+\s*$")      # "Mx3"


class MultType(str, Enum):
    SINGLE = "single"
    DELIMITED = "delimited"      # "WHITE, BLACK"
    COUNTS = "counts"            # "2 - White, 1 - Black"
    MULTIPLIER = "multiplier"    # "Mx3 / F"
    WITH_NAME = "with_name"      # "Doe, John W/M Smith, Jane B/F"
    DEMO_COL = "demo_col"        # "(White, Male) (Black, Female)"
    WITH_COUNTS = "with_counts"  # "2 Injured 1 Deceased"


# "Name CC/C" demographic code pairs embedded in prose
# (reference std_with_names _converters.py:1009-1012)
_NAME_PAIR_RE = re.compile(r"[\sÊ](?:\w{1,2}/\w)\b")  # non-capturing: used
# only for detection via str.contains (a group would warn in pandas)
# parenthesized per-person demographic groups (reference std_demo_col)
_PAREN_GROUP_RE = re.compile(r"\([^)]*[,/][^)]*\)")
# digit-prefixed category words (reference std_with_counts)
_DIGIT_WORD_RE = re.compile(r"(?:^|\s)\d+\s+[A-Za-z]")


@dataclass
class MultData:
    """Detected multi-person encoding for one column (reference
    `_MultData`, _preproc_utils.py:199-212)."""

    type: MultType
    delim: Optional[str] = None
    item_delim: Optional[str] = None  # for COUNTS: between count and value


def _best_delim(vals: pd.Series) -> tuple[Optional[str], float]:
    """Elect the delimiter: the candidate splitting the largest fraction of
    values into >1 token wins (minimum 5% multi-valued)."""
    best, best_frac = None, 0.0
    for d in DELIMITERS:
        frac = vals.str.contains(re.escape(d), regex=True).mean()
        if frac > best_frac:
            best, best_frac = d, frac
    if best_frac >= 0.05:
        return best, best_frac
    return None, 0.0


def _drop_marsy_exempt(v: pd.Series) -> pd.Series:
    """Florida PDs fill cells with Marsy's-law exemption boilerplate
    (reference preproc.py:284-288, 1812-1816); the prose contains commas
    and must not vote in delimiter election or person counts."""
    return v[~(v.str.contains("Marsy", case=False)
               & v.str.contains("Exempt", case=False))]


def detect_multi(sample: pd.Series,
                 counts_vocab_available: bool = True) -> MultData:
    """Classify one demographic column's encoding from sampled values.

    ``counts_vocab_available=False`` disables the WITH_COUNTS class —
    that mode needs a category vocabulary at apply time, so callers
    without one (every family except injury/fatal) must fall through to
    plain delimiter election instead of electing an unapplicable mode."""
    v = sample.dropna().astype(str).str.strip()
    v = v[v != ""]
    v = _drop_marsy_exempt(v)
    if len(v) == 0:
        return MultData(MultType.SINGLE)
    # specialized encodings outrank plain-delimiter election: their cells
    # CONTAIN commas/slashes that would mis-elect a person delimiter
    if v.str.contains(_NAME_PAIR_RE.pattern, regex=True).mean() >= 0.3:
        return MultData(MultType.WITH_NAME)
    if v.str.contains(_PAREN_GROUP_RE.pattern, regex=True).mean() >= 0.3:
        return MultData(MultType.DEMO_COL)
    if counts_vocab_available \
            and v.str.contains(_DIGIT_WORD_RE.pattern, regex=True).mean() >= 0.3 \
            and not v.str.match(_COUNTS_RE.pattern).any():
        return MultData(MultType.WITH_COUNTS)
    delim, _ = _best_delim(v)
    if delim is None:
        return MultData(MultType.SINGLE)
    # inspect the split tokens of multi-valued cells
    multi = v[v.str.contains(re.escape(delim))]
    tokens = multi.str.split(re.escape(delim)).explode().str.strip()
    if (tokens.str.match(_COUNTS_RE.pattern).mean() if len(tokens) else 0) >= 0.5:
        return MultData(MultType.COUNTS, delim=delim)
    # any real share of 'CATxN' tokens marks multiplier syntax — most
    # tokens in an 'Mx3 / F' column are plain categories
    if (tokens.str.match(_MULT_RE.pattern).mean() if len(tokens) else 0) >= 0.2:
        return MultData(MultType.MULTIPLIER, delim=delim)
    return MultData(MultType.DELIMITED, delim=delim)


def agreement(sample: pd.DataFrame, cols_delims: dict[str, str],
              min_agree: float = 0.6) -> bool:
    """Cross-column person-count agreement (reference preproc.py:1861-1923):
    rows where several demographic columns are multi-valued should split
    into the SAME number of people; otherwise the delimiter is content
    punctuation, not a person separator."""
    if len(cols_delims) < 2:
        return True
    counts = pd.DataFrame({
        c: _drop_marsy_exempt(sample[c].dropna().astype(str))
        .str.split(re.escape(d)).str.len()
        for c, d in cols_delims.items()
    })
    multi = counts[(counts > 1).any(axis=1)].dropna()
    if len(multi) == 0:
        return True
    agree = (multi.nunique(axis=1) == 1).mean()
    return agree >= min_agree


def multi_sql(ref: str, mult: MultData, item: Callable[[str], str],
              item_num: int = 0, vocab: Optional[list[str]] = None) -> str:
    """Compile a multi-person cell into ``array<T>`` applying the scalar
    standardizer ``item`` (a SQL builder) once per person, as SQL over
    ``ref``: ``transform(<per-person values>, __x -> item(__x))``.

    DELIMITED   : split → trim → drop empties
    COUNTS      : split → per token "N - CAT" → array_repeat(CAT, N)
                  → flatten (reference std_counts _converters.py:1000-1040)
    MULTIPLIER  : split → per token "CATxN" → array_repeat → flatten
                  (reference std_demo_col multiplier syntax)
    WITH_NAME   : extract embedded "CC/C" code pairs, take side `item_num`
                  (0 = race code, 1 = gender code; reference std_with_names
                  _converters.py:1009-1043)
    DEMO_COL    : parenthesized per-person groups; field `item_num` of each
                  group's ','/'/'-separated attributes (reference
                  std_demo_col _converters.py:927-1006)
    WITH_COUNTS : optional leading count + category phrase from `vocab`
                  (longest-first alternation — the expression analog of the
                  reference's try-the-converter-incrementally loop,
                  _converters.py:1089-1142); "2 Injured" → two INJURED
    """
    if mult.type == MultType.SINGLE:
        raise ValueError("multi_expr called for a single-valued column")
    text = f"CAST({ref} AS STRING)"
    if mult.type in (MultType.WITH_NAME, MultType.DEMO_COL):
        # same separator class as detection ([\sÊ] — the reference's
        # Ê-delimited exports), or a mode-positive cell extracts nothing
        group_rx, field_rx = ((r"[\sÊ](\w{1,2}/\w)\b", "/")
                              if mult.type == MultType.WITH_NAME
                              else (r"\(([^)]+)\)", "[,/]"))
        field = (f"trim(element_at(split(__x, {lit(field_rx)}, -1), "
                 f"{item_num + 1}))")
        return (f"transform(regexp_extract_all({text}, {lit(group_rx)}, 1), "
                f"__x -> {item(field)})")
    if mult.type == MultType.WITH_COUNTS:
        if not vocab:
            raise ValueError(
                "WITH_COUNTS needs the category vocabulary (the reference "
                "resolves phrases by probing its converter)")
        # longest phrase first so 'SELF-INFLICTED FATAL' beats 'FATAL';
        # word boundaries so 'Injured' can't match inside 'Uninjured'
        alt = "|".join(re.escape(p) for p in
                       sorted(vocab, key=len, reverse=True))
        phrase = lit(rf"(?i)\b((?:\d+\s+)?(?:{alt}))\b")
        toks = f"regexp_extract_all({text}, {phrase}, 1)"
        count_rx, cat_rx = r"^(\d+)\s", r"^\d+\s+"
    else:
        toks = (f"filter(transform(split({text}, "
                f"{lit(re.escape(mult.delim or ','))}, -1), __t -> trim(__t)), "
                f"__t -> __t != {lit('')})")
        if mult.type == MultType.DELIMITED:
            return f"transform({toks}, __x -> {item('__x')})"
        if mult.type == MultType.COUNTS:
            count_rx, cat_rx = r"^(\d+)\s*[-–x×]", r"^\d+\s*[-–x×]\s*"
        elif mult.type == MultType.MULTIPLIER:
            count_rx, cat_rx = r"[x×]\s*(\d+)\s*$", r"\s*[x×]\s*\d+\s*$"
        else:
            raise ValueError(f"unsupported MultType {mult.type}")
    # counted tokens repeat their category N times; the standardizer then
    # runs once per person
    n = f"regexp_extract(__t, {lit(count_rx)}, 1)"
    cat = f"trim(regexp_replace(__t, {lit(cat_rx)}, {lit('')}))"
    people = (f"flatten(transform({toks}, __t -> CASE WHEN {n} != {lit('')} "
              f"THEN array_repeat({cat}, CAST({n} AS INT)) "
              f"ELSE array(__t) END))")
    return f"transform({people}, __x -> {item('__x')})"


def multi_expr(col: ColumnOrName, mult: MultData,
               item_fn: Callable[[Column], Column],
               item_num: int = 0,
               vocab: Optional[list[str]] = None) -> Column:
    """`multi_sql` as a Column over ``col``; ``item_fn`` is built from this
    package's ``*_expr`` functions (`sqltext.sql_fn`)."""
    item = sql_fn(item_fn)
    return bind(lambda r: multi_sql(r, mult, item, item_num, vocab), col)


def dict_sql(ref: str, item: Callable[[str], str]) -> str:
    """Standardize a MapType column of {person_idx: raw value} — the
    encoding merge round trips produce (reference std_dict
    _converters.py:908-924). `transform_values` applies the SAME scalar
    LUT per entry, expression-only; `Table.expand` consumes either this
    map form or the array form."""
    return f"transform_values({ref}, (__k, __v) -> {item('__v')})"


def dict_expr(col: ColumnOrName, item_fn: Callable[[Column], Column]) -> Column:
    item = sql_fn(item_fn)
    return bind(lambda r: dict_sql(r, item), col)
