"""Schema-inference + standardization pipeline.

Parity target: /root/reference/openpolicedata/preproc.py — orchestration
(`standardize`, preproc.py:70-137), column matching (`_find_col_matches`,
preproc.py:520-649), demographic role attribution (`_id_demographic_column`,
preproc.py:1141-1365), validators (preproc.py:2154-2477), multi-person
detection (`check_for_multiple`, preproc.py:1623-1944), cleanup/reorder
(preproc.py:1475-1488), and _preproc_utils.py:10-15 (`DataMapping`).

Spark architecture (SURVEY §2.10 mapping): column *identification* is
driver-side Python over ``df.schema`` plus ONE sample job
(``df.limit(N).toPandas()``) — heuristics never scan the data; the
date-format vote reads the same sample when it holds every row. The chosen
mappings are then *applied* as SQL text (the ``*_sql`` builders of
`functions`), one ``selectExpr`` per projection — lazy, fully codegen'd,
no Python at execution time, and one py4j call to build each.
"""

from __future__ import annotations

import logging
import re
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

_log = logging.getLogger(__name__)

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openpolicedata_spark import defs
from openpolicedata_spark.defs import Columns
from openpolicedata_spark.functions import luts
from openpolicedata_spark.functions.datetime import (
    _strategy_from_values,
    date_precision_sql,
    detect_date_format,
    merge_date_time_sql,
    parse_time_sql,
    to_datetime_sql,
)
from openpolicedata_spark.functions.sqltext import ident as sql_ident, lit

SAMPLE_N = 1000

OFFICER_TERMS = ["officer", "deputy", "empl", "personnel"]  # preproc.py:549
CIVILIAN_TERMS = ["citizen", "subject", "suspect", "civilian", "cit", "offender"]  # preproc.py:565


@dataclass
class DataMapping:
    """Per-column transform audit record (reference _preproc_utils.py:10-15)."""

    orig_column_name: Optional[str]
    new_column_name: str
    data_maps: Optional[dict] = None
    orig_value_counts: Optional[pd.Series] = None


@dataclass
class ColumnMap:
    """canonical name → raw column(s) (reference `_ColMapDict`, preproc.py:25-67)."""

    mapping: dict[str, str] = field(default_factory=dict)

    def __setitem__(self, k: str, v: str) -> None:
        self.mapping[k] = v

    def __getitem__(self, k: str) -> str:
        return self.mapping[k]

    def __contains__(self, k: str) -> bool:
        return k in self.mapping

    def items(self):
        return self.mapping.items()


def _words(name: str) -> list[str]:
    """Split a column name into lowercase words: camelCase, snake_case,
    spaces, punctuation, digits (reference utils.py:19-32 split_words
    splits on `[^A-Za-z]+` — so `race1` and `subject_race2` contain the
    word `race`)."""
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1 \2", str(name))
    return [w for w in re.split(r"[^A-Za-z]+", s.lower()) if w]


def _contains_term(name: str, terms: list[str]) -> bool:
    w = _words(name)
    return any(t in w or any(t in x for x in w if len(t) > 3) for t in terms)


class ColumnIdentifier:
    """Driver-side column identification over schema + one pandas sample."""

    def __init__(self, df: DataFrame, table_type: Optional[str] = None,
                 source_name: Optional[str] = None,
                 known_cols: Optional[dict[str, str]] = None):
        self.df = df
        self.table_type = table_type or ""
        self.source_name = source_name
        self.known_cols = known_cols or {}
        self.excluded: set[str] = set()   # columns consumed by a pre-pass
        self._sample: Optional[pd.DataFrame] = None

    @property
    def sample(self) -> pd.DataFrame:
        if self._sample is None:
            self._sample = self.df.limit(SAMPLE_N).toPandas()
        return self._sample

    # ---------------------------------------------------------------- search
    def find_matches(
        self,
        substrs: list[str],
        exclude_substrs: Optional[list[str]] = None,
        validator: Optional[Callable[[pd.Series], bool]] = None,
    ) -> list[str]:
        """Word-boundary substring search with exclusions + data validation
        (reference `_find_col_matches` preproc.py:520-649, condensed: the
        word-split requirement avoids matching inside longer words)."""
        exclude_substrs = exclude_substrs or []
        out = []
        for c in self.df.columns:
            if c in self.excluded:
                continue
            lc = str(c).lower()
            words = _words(c)
            hit = False
            for s in substrs:
                s = s.lower()
                if s == lc or s in words or (s + "s") in words:
                    hit = True
                elif len(words) == 1 and s in lc:
                    hit = True
                elif " " in s and s in " ".join(words):
                    hit = True
            if not hit:
                continue
            if any(e.lower() in lc for e in exclude_substrs):
                continue
            if validator is not None and not validator(self.sample[c]):
                continue
            out.append(c)
        return out

    def attribute_roles(self, cols: list[str]) -> dict[str, Optional[str]]:
        """Assign each matched column to OFFICER / SUBJECT / both
        (reference `_id_demographic_column` preproc.py:1141-1365):
        explicit terms in the name win; '- OFFICERS'/'- SUBJECTS' table
        types imply the role for unmarked columns."""
        roles: dict[str, Optional[str]] = {}
        tt = self.table_type.upper()
        default = None
        if tt.endswith("- OFFICERS"):
            default = "OFFICER"
        elif tt.endswith("- SUBJECTS") or tt.endswith("- NONMOTORIST"):
            default = "SUBJECT"
        for c in cols:
            if _contains_term(c, OFFICER_TERMS):
                roles[c] = "OFFICER"
            elif _contains_term(c, CIVILIAN_TERMS):
                roles[c] = "SUBJECT"
            else:
                roles[c] = default
        return roles

    # ------------------------------------------------------------ validators
    @staticmethod
    def _tokens(s: pd.Series) -> pd.Series:
        """Values exploded on person delimiters: validators must accept
        multi-person cells ('WHITE, BLACK'), whose raw values are not in
        any category inventory (reference validators run the converter,
        which handles MultType; splitting first is the equivalent)."""
        v = s.dropna()
        if v.map(lambda x: isinstance(x, dict)).any():
            # MapType {person_idx: value} cells: validate the dict VALUES
            # (stringifying the dict would hide them inside '{0: ...}')
            v = v.map(lambda x: list(x.values())
                      if isinstance(x, dict) else [x]).explode().dropna()
        v = v.astype(str).str.strip()
        # parens delimit per-person groups in DEMO_COL cells
        # ('(White, Male) (Black, Female)') — split them too, or the
        # validators see '(White' and reject the column
        t = v.str.split(r"[,|;/\n()]", regex=True).explode().str.strip()
        return t[t != ""]

    def validate_date(self, s: pd.Series) -> bool:
        """Date validator (reference datetime_parser.py:230-272): at least
        half of the sampled non-null values must parse as plausible dates."""
        v = s.dropna()
        if len(v) == 0:
            return False
        if pd.api.types.is_datetime64_any_dtype(v):
            return True
        parsed = pd.to_datetime(v.astype(str), errors="coerce", format="mixed")
        ok = parsed.notna() & (parsed.dt.year >= 1900) & (parsed.dt.year <= 2200)
        return ok.mean() >= 0.5

    def validate_time(self, s: pd.Series) -> bool:
        """Time validator (reference datetime_parser.py:275-379): HHMM ints
        or HH:MM strings; must NOT look like a date."""
        v = s.dropna().astype(str).str.strip()
        if len(v) == 0:
            return False
        time_like = v.str.match(r"^\d{1,2}:\d{2}(:\d{2})?( ?[AaPp]\.?[Mm]\.?)?$") | \
            v.str.match(r"^\d{1,4}$")
        date_like = v.str.match(r"^\d{4}-\d{2}-\d{2}") | v.str.match(r"^\d{1,2}/\d{1,2}/\d{2,4}$")
        return time_like.mean() >= 0.5 and not date_like.any()

    def validate_race(self, s: pd.Series) -> bool:
        """Race validator (reference preproc.py:2217-2300): ≥1/3 of values
        convert to known categories and WHITE or BLACK is present."""
        v = self._tokens(s).str.upper()
        if len(v) == 0:
            return False
        known = {"WHITE", "BLACK", "ASIAN", "HISPANIC", "LATINO", "W", "B",
                 "A", "H", "AAPI", "CAUCASIAN", "AFRICAN AMERICAN", "UNKNOWN",
                 "OTHER", "INDIGENOUS", "NATIVE AMERICAN", "PACIFIC ISLANDER"}
        frac = v.isin(known).mean()
        has_wb = v.isin({"WHITE", "W", "CAUCASIAN", "BLACK", "B",
                         "AFRICAN AMERICAN"}).any()
        return frac >= 1 / 3 and has_wb

    def validate_gender(self, s: pd.Series) -> bool:
        v = self._tokens(s).str.upper()
        if len(v) == 0:
            return False
        known = {"M", "F", "MALE", "FEMALE", "UNKNOWN", "U", "NONBINARY",
                 "NON-BINARY", "TRANSGENDER", "OTHER", "X", "W", "MAN", "WOMAN"}
        return v.isin(known).mean() >= 0.5

    def validate_age(self, s: pd.Series) -> bool:
        v = pd.to_numeric(self._tokens(s), errors="coerce").dropna()
        if len(v) == 0:
            return False
        return ((v >= 0) & (v <= 120)).mean() >= 0.75

    def validate_zip(self, s: pd.Series) -> bool:
        v = s.dropna().astype(str).str.strip()
        return len(v) > 0 and v.str.match(r"^\d{5}(-\d{4})?$").mean() >= 0.75


def _role_col(role: Optional[str], subject_name: str, officer_name: str,
              both_name: str) -> str:
    if role == "OFFICER":
        return officer_name
    if role == "SUBJECT":
        return subject_name
    return both_name


# Spark types whose pandas sample values vote exactly like
# `detect_date_format`'s collected Rows: strings arrive as str/None, and
# integral columns with nulls arrive as float64/NaN, which `int()` maps
# back exactly (a value above 2**53 fails every numeric range either
# way). float/double keep the probe job: pandas reads NaN as null there,
# while the probe's isNotNull keeps it.
_SAMPLE_VOTE_TYPES = ("string", "int", "bigint", "smallint")


def _date_strategy(ident: "ColumnIdentifier", date_col: str) -> dict:
    """`detect_date_format(ident.df, date_col)` without its job when the
    identification sample holds every row: the probe would collect the
    same non-null values, and the vote ignores their order."""
    dtype = dict(ident.df.dtypes).get(date_col, "")
    if dtype in _SAMPLE_VOTE_TYPES and len(ident.sample) < SAMPLE_N:
        return _strategy_from_values(
            dtype, ident.sample[date_col].dropna().tolist())
    return detect_date_format(ident.df, date_col)


def _with_columns(df: DataFrame, columns: list[str], new: dict[str, str],
                  renames: Optional[dict[str, str]] = None,
                  ) -> tuple[DataFrame, list[str]]:
    """``df.withColumnsRenamed(renames).withColumns(new)`` as one
    ``selectExpr``, for ``df`` with ``columns``; ``new`` maps a name to its
    SQL. A renamed column keeps its place; a new column replaces a
    same-named one (names match case-insensitively, as Spark resolves
    them) or is appended. Returns the frame and its columns."""
    renames = {k.lower(): v for k, v in (renames or {}).items()}
    new_by_key = {k.lower(): k for k in new}
    exprs, names = [], []
    for c in columns:
        name = renames.get(c.lower(), c)
        key = new_by_key.pop(name.lower(), None)
        exprs.append(f"{new[key]} AS {sql_ident(key)}" if key is not None
                     else sql_ident(c) if name == c
                     else f"{sql_ident(c)} AS {sql_ident(name)}")
        names.append(name if key is None else key)
    exprs += [f"{new[k]} AS {sql_ident(k)}" for k in new_by_key.values()]
    return df.selectExpr(*exprs), names + list(new_by_key.values())


def standardize(
    df: DataFrame,
    table_type: Optional[str] = None,
    source_name: Optional[str] = None,
    state: Optional[str] = None,
    *,
    known_cols: Optional[dict[str, str]] = None,
    no_id: str = "keep",
    keep_raw: bool = True,
    merge_date_time: bool = True,
    race_eth_combo: str = "merge",
    collect_value_counts: bool = False,
    race_cats: Optional[dict[str, str]] = None,
    eth_cats: Optional[dict[str, str]] = None,
    gender_cats: Optional[dict[str, str]] = None,
    agg_race_cat: bool = False,
    empty_time: str = "nat",
    verbose: bool | str = False,
    sample_df: Optional[DataFrame] = None,
) -> tuple[DataFrame, list[DataMapping]]:
    """Standardize a loaded table into the canonical schema
    (reference preproc.standardize, preproc.py:70-137).

    Pipeline order mirrors the reference: id columns → date → time →
    datetime merge → race → ethnicity → combo → gender → age → age range →
    injury → fatal → zip. Identification = driver-side heuristics on one
    sample; application = one ``selectExpr`` of SQL text per projection.

    ``race_cats``/``eth_cats``/``gender_cats`` relabel canonical output
    categories (reference data.py:682-757: keys must be known category
    values, else BadCategoryDict); ``agg_race_cat`` enables the census-based
    aggressive race mapping; ``empty_time`` controls DATETIME for null
    times ('nat' → null, 'ignore' → date only).

    ``sample_df``: identification probes read THIS frame instead of ``df``
    — identification on a bounded batch sample, application to anything
    with the same schema, including a Structured Streaming DataFrame
    (the compiled plan is stateless projections, so it runs incrementally
    unchanged; identify once, apply to the live stream and the 100 TB
    backfill alike). Required when ``df`` is streaming (streams can't be
    sampled at plan time).

    Returns (standardized DataFrame, transform audit list).
    """
    if table_type and table_type.lower().startswith("calls for service"):
        # reference skip list (preproc.py:20): CFS tables aren't standardized
        return df, []

    if verbose:
        # reference data.py:735-741: True → INFO; a level name sets that
        # level on this module's logger (mapping decisions are logged at
        # the end of identification, below)
        import logging

        level = (verbose.upper() if isinstance(verbose, str)
                 else "INFO")
        logging.basicConfig()  # no-op if the root logger is configured
        logging.getLogger(__name__).setLevel(level)

    def _cat_values(cls) -> set[str]:
        return {v for k, v in vars(cls).items()
                if not k.startswith("_") and isinstance(v, str)}

    def _relabel(sql_fn, cats: Optional[dict], valid: set[str], what: str):
        """Wrap a scalar SQL standardizer so canonical categories map to
        the caller's labels (reference data.py:682-757; invalid keys raise
        like BadCategoryDict, exceptions.py:65)."""
        if not cats:
            return sql_fn
        bad = set(cats) - valid
        if bad:
            from openpolicedata_spark.exceptions import BadCategoryDict

            raise BadCategoryDict(
                f"Invalid {what} category keys: {sorted(bad)} "
                f"(must be a subset of the known {what} categories)")
        m = "map(" + ", ".join(lit(x) for kv in cats.items() for x in kv) + ")"

        def relabeled(ref: str) -> str:
            base = sql_fn(ref)
            return f"coalesce(element_at({m}, {base}), {base})"

        return relabeled

    if df.isStreaming and sample_df is None:
        raise ValueError(
            "standardize(df) on a streaming DataFrame needs sample_df= (a "
            "bounded batch frame with the same schema) for identification")
    if sample_df is not None and sample_df.isStreaming:
        raise ValueError("sample_df must be a batch DataFrame (streams "
                         "can't be sampled at plan time)")
    if collect_value_counts and df.isStreaming:
        raise ValueError("collect_value_counts is batch-only")
    probe = sample_df if sample_df is not None else df
    ident = ColumnIdentifier(probe, table_type, source_name, known_cols)
    known_cols = dict(known_cols or {})

    from openpolicedata_spark.standardize.extras import (
        detect_gender_race_swap,
        find_onehot_group,
        fold_onehot_sql,
        validate_name,
    )

    # boolean one-hot race columns → synthesize one categorical raw column
    # (reference _converters.py:37-124) when no named race column exists
    if not any("race" in c.lower() for c in df.columns):
        group = find_onehot_group(df.columns, ident.sample)
        if group:
            onehot = f"{fold_onehot_sql(group)} AS race_onehot"
            df = df.selectExpr("*", onehot)
            probe = df if sample_df is None else probe.selectExpr("*", onehot)
            ident = ColumnIdentifier(probe, table_type, source_name, known_cols)
            ident.excluded = set(group)  # consumed: don't re-identify members
    col_map = ColumnMap()
    # (canonical, raw, builder) — applied AFTER raw columns are renamed
    # RAW_*: Spark resolves column names case-insensitively, so adding
    # SUBJECT_RACE while subject_race exists would silently overwrite it.
    # A builder maps the SQL text of its raw column to the SQL of the
    # canonical one.
    specs: list[tuple[str, str, Callable[[str], str]]] = []
    post_cols: dict[str, str] = {}  # SQL over canonical columns
    transforms: list[DataMapping] = []

    def pick(canonical: str, candidates: list[str]) -> Optional[str]:
        if canonical in known_cols:
            c = known_cols[canonical]
            if c not in df.columns:
                raise ValueError(f"Known column {c} not in DataFrame")
            return c
        return candidates[0] if candidates else None

    # ------------------------------------------------------------------ date
    date_col = pick(Columns.DATE, ident.find_matches(
        ["datetime", "date", "occurred"],
        exclude_substrs=["as_of", "last_reported", "objectid", "modified",
                         "created", "received", "update"],
        validator=ident.validate_date,
    ))
    if date_col:
        col_map[Columns.DATE] = date_col
        strat = _date_strategy(ident, date_col)
        specs.append((Columns.DATE, date_col,
                      lambda r, s=strat: to_datetime_sql(r, s)))
        # (date, precision) pair = the reference's pd.Period encoding
        # (SURVEY §1.3): partial dates floor + carry their granularity
        if strat.get("kind") in ("year", "year_month", "year_quarter"):
            post_cols[Columns.DATE_PRECISION] = date_precision_sql(strat)
        transforms.append(DataMapping(date_col, Columns.DATE,
                                      {"strategy": strat}))

    # ------------------------------------------------------------------ time
    time_col = pick(Columns.TIME, [
        c for c in ident.find_matches(["time"], exclude_substrs=["datetime", "times"],
                                      validator=ident.validate_time)
        if c != date_col
    ])
    if time_col:
        col_map[Columns.TIME] = time_col
        specs.append((Columns.TIME, time_col, parse_time_sql))
        transforms.append(DataMapping(time_col, Columns.TIME))

    if merge_date_time and date_col and time_col:
        post_cols[Columns.DATETIME] = merge_date_time_sql(
            sql_ident(Columns.DATE), sql_ident(Columns.TIME), empty_time=empty_time)
        transforms.append(DataMapping(None, Columns.DATETIME))

    # ----------------------------------------------------- demographic columns
    # multi-person cell candidates: raw col → MultData (reference
    # check_for_multiple, preproc.py:1623-1944); validated by cross-column
    # person-count agreement after all families are identified.
    from openpolicedata_spark.standardize.multi import (
        MultType,
        agreement,
        detect_multi,
        dict_sql,
        multi_sql,
    )
    mult_candidates: dict[str, Any] = {}
    mult_kwargs: dict[str, dict] = {}

    # publisher swapped race↔gender columns? (reference preproc.py:972-993)
    _race_named = [c for c in df.columns if "race" in str(c).lower()]
    _gender_named = [c for c in df.columns
                     if any(t in _words(c) for t in ("gender", "sex"))]
    if len(_race_named) == 1 and len(_gender_named) == 1:
        if detect_gender_race_swap(ident.sample, _race_named[0],
                                   _gender_named[0], ident.validate_race,
                                   ident.validate_gender):
            roles0 = ident.attribute_roles([_race_named[0], _gender_named[0]])
            known_cols.setdefault(
                _role_col(roles0[_gender_named[0]], Columns.RACE_SUBJECT,
                          Columns.RACE_OFFICER, Columns.RACE_OFF_SUB),
                _gender_named[0])
            known_cols.setdefault(
                _role_col(roles0[_race_named[0]], Columns.GENDER_SUBJECT,
                          Columns.GENDER_OFFICER, Columns.GENDER_OFF_SUB),
                _race_named[0])

    def _numbered_merge(cols: list[str], roles: dict) -> list[str]:
        """Merge `race1..raceN`-style column families into ONE positional
        array column (reference preproc.py:1266-1317: several columns for
        the same role whose names differ only by an incrementing 1..N are
        one table of people merged sideways). Trailing empties are
        trimmed; interior nulls become '' to preserve person positions."""
        by_role: dict[Any, list[str]] = {}
        for c in cols:
            by_role.setdefault(roles[c], []).append(c)
        out_cols = list(cols)
        for role, group in by_role.items():
            if len(group) < 2:
                continue
            bases, nums = [], []
            for c in group:
                bases.append("".join(ch for ch in c if not ch.isdigit()))
                digits = "".join(ch for ch in c if ch.isdigit())
                nums.append(int(digits) if digits else None)
            if (None in nums or len(set(bases)) != 1
                    or set(nums) != set(range(1, len(group) + 1))):
                continue
            ordered = [c for _, c in sorted(zip(nums, group))]
            merged = bases[0].strip("_ ") + "_merged"
            arr = ("array(" + ", ".join(f"CAST({sql_ident(c)} AS STRING)"
                                        for c in ordered) + ")")
            last = (f"aggregate(sequence(1, {len(ordered)}), 0, (__acc, __i) -> "
                    f"CASE WHEN element_at({arr}, __i) IS NOT NULL "
                    f"AND trim(element_at({arr}, __i)) != {lit('')} "
                    f"THEN __i ELSE __acc END)")
            merged_cols[merged] = (f"transform(slice({arr}, 1, {last}), "
                                   f"__x -> coalesce(trim(__x), {lit('')}))")
            transforms.append(DataMapping(
                str(ordered), merged, {"numbered_merge": ordered}))
            out_cols = [c for c in out_cols if c not in group]
            out_cols.append(merged)
            roles[merged] = role
            _merged_arrays[merged] = ordered
        return out_cols

    _merged_arrays: dict[str, list[str]] = {}
    # numbered-merge array columns: name → SQL, added with the renames
    merged_cols: dict[str, str] = {}

    def std_demographic(substrs, validator, canonical_triplet, expr_fn,
                        exclude=None, allow_multi=False,
                        item_num=0, counts_vocab=None):
        cols = ident.find_matches(substrs, exclude_substrs=exclude,
                                  validator=validator)
        roles = ident.attribute_roles(cols)
        cols = _numbered_merge(cols, roles)
        # explicit known_cols win over heuristics (reference data.py:682-757)
        for canonical in canonical_triplet:
            if canonical in known_cols and known_cols[canonical] in df.columns:
                c = known_cols[canonical]
                if c not in cols:
                    cols.insert(0, c)
                roles[c] = ("SUBJECT" if canonical == canonical_triplet[0]
                            else "OFFICER" if canonical == canonical_triplet[1]
                            else None)
        used = []
        for c in cols:
            canonical = _role_col(roles[c], *canonical_triplet)
            if canonical in col_map:  # first match wins per canonical slot
                continue
            col_map[canonical] = c
            if c in _merged_arrays:
                # numbered-merge output is already array<string>: apply the
                # scalar standardizer per person, positions preserved
                specs.append((canonical, c, lambda r, fn=expr_fn:
                              f"transform({r}, __x -> {fn('__x')})"))
                transforms.append(DataMapping(c, canonical))
                used.append((canonical, c))
                continue
            from pyspark.sql.types import MapType as _MapType

            if isinstance(df.schema[c].dataType, _MapType):
                # dict-encoded {person_idx: value} cells (reference
                # std_dict — the form merge round trips produce):
                # standardize values in place; text-mode detection would
                # misread the rendered dict as a delimited string
                specs.append((canonical, c,
                              lambda r, fn=expr_fn: dict_sql(r, fn)))
                transforms.append(DataMapping(c, canonical,
                                              {"multi": "dict"}))
                used.append((canonical, c))
                continue
            if allow_multi:
                mult = detect_multi(
                    ident.sample[c],
                    counts_vocab_available=counts_vocab is not None)
                if mult.type != MultType.SINGLE:
                    mult_candidates[c] = mult
                    # mode parameters per column FAMILY: which side of a
                    # "W/M" / "(White, Male)" person group this family
                    # reads, and the phrase vocabulary for WITH_COUNTS
                    mult_kwargs[c] = {"item_num": item_num,
                                      "vocab": counts_vocab}
            specs.append((canonical, c, expr_fn))
            transforms.append(DataMapping(c, canonical))
            used.append((canonical, c))
        return used

    std_demographic(
        ["race", "ethnicity race", "race ethnicity"], ident.validate_race,
        (Columns.RACE_SUBJECT, Columns.RACE_OFFICER, Columns.RACE_OFF_SUB),
        _relabel(
            lambda r: luts.race_sql(r, source_name=source_name, state=state,
                                    no_id=no_id, agg_cat=agg_race_cat),
            race_cats, _cat_values(defs.Race), "race"),
        exclude=["ethnicity"], allow_multi=True,
    )
    eth_used = std_demographic(
        ["ethnicity", "hispanic"], None,
        (Columns.ETHNICITY_SUBJECT, Columns.ETHNICITY_OFFICER, Columns.ETHNICITY_OFF_SUB),
        _relabel(
            lambda r: luts.ethnicity_sql(r, source_name=source_name, no_id=no_id),
            eth_cats, _cat_values(defs.Ethnicity), "ethnicity"),
        allow_multi=True,
    )
    std_demographic(
        ["gender", "sex"], ident.validate_gender,
        (Columns.GENDER_SUBJECT, Columns.GENDER_OFFICER, Columns.GENDER_OFF_SUB),
        _relabel(
            lambda r: luts.gender_sql(r, source_name=source_name, state=state,
                                      no_id=no_id),
            gender_cats, _cat_values(defs.Gender), "gender"),
        allow_multi=True,
        # "W/M" pairs and "(White, Male)" groups list gender second
        item_num=1,
    )
    std_demographic(
        ["age"], ident.validate_age,
        (Columns.AGE_SUBJECT, Columns.AGE_OFFICER, Columns.AGE_OFF_SUB),
        luts.age_sql,
        exclude=["agency", "range", "group", "bracket"], allow_multi=True,
    )
    std_demographic(
        ["age range", "age group", "age bracket"], None,
        (Columns.AGE_RANGE_SUBJECT, Columns.AGE_RANGE_OFFICER, Columns.AGE_RANGE_OFF_SUB),
        lambda r: luts.age_range_sql(r, no_id=no_id),
    )
    # injury phrase vocabulary for '2 Injured 1 Deceased' cells (reference
    # std_with_counts probes its converter; the expression path needs the
    # phrases declared — these are the keywords the injury LUT recognizes)
    _injury_vocab = ["Injured", "Deceased", "Killed", "Fatal", "Wounded",
                     "No Injury", "None"]
    std_demographic(
        ["injury", "injured"], None,
        (Columns.INJURY_SUBJECT, Columns.INJURY_OFFICER, Columns.INJURY_OFF_SUB),
        lambda r: luts.injury_sql(r, no_id=no_id),
        allow_multi=True, counts_vocab=_injury_vocab,
    )
    std_demographic(
        ["fatal", "deceased"], None,
        (Columns.FATAL_SUBJECT, Columns.FATAL_OFFICER, Columns.FATAL_OFF_SUB),
        lambda r: luts.fatal_sql(r, no_id=no_id),
    )
    std_demographic(
        ["firearm", "firearm used", "weapon discharged"], None,
        (Columns.FIREARM_SUBJECT, Columns.FIREARM_OFFICER, Columns.FIREARM_OFF_SUB),
        lambda r: luts.firearm_sql(r, no_id=no_id),
    )

    # role column: SUBJECT vs OFFICER per row (reference convert_off_or_civ
    # via standardize_columns, preproc.py:1491-1530); stays a scalar string
    role_cols = ident.find_matches(
        ["subject or officer", "civilian or officer", "person type", "role"],
        exclude_substrs=["patrol"],
    )
    if role_cols and Columns.SUBJECT_OR_OFFICER not in col_map:
        col_map[Columns.SUBJECT_OR_OFFICER] = role_cols[0]
        specs.append((Columns.SUBJECT_OR_OFFICER, role_cols[0],
                      lambda r: luts.role_sql(r, no_id=no_id)))
        transforms.append(DataMapping(role_cols[0], Columns.SUBJECT_OR_OFFICER))

    # ----------------------------------------------------------------- names
    std_demographic(
        ["name", "full name"], validate_name,
        (Columns.NAME_SUBJECT, Columns.NAME_OFFICER, Columns.NAME_OFF_SUB),
        lambda r: f"CAST({r} AS STRING)",
        exclude=["agency", "street", "file", "court"],
    )

    # ------------------------------------------------------------------ zip
    zips = ident.find_matches(["zip", "zipcode", "zip code"],
                              validator=ident.validate_zip)
    if zips:
        col_map[Columns.ZIP_CODE] = zips[0]
        specs.append((Columns.ZIP_CODE, zips[0], lambda r: f"CAST({r} AS STRING)"))
        transforms.append(DataMapping(zips[0], Columns.ZIP_CODE))

    # ------------------------------------------------------------ apply once
    # 1. rename every mapped raw column RAW_* (avoids the case-insensitive
    #    overwrite described above and matches reference cleanup,
    #    preproc.py:1475-1488);
    # 2. one projection for raw→canonical; 3. one for derived columns.
    raw_renames = {
        raw: f"RAW_{raw}"
        for raw in {raw for _, raw, _ in specs}
        if not raw.startswith("RAW_")
    }
    # numbered-merge source columns (race1..raceN) are consumed too
    # (reference renames each via _cleanup_old_column, preproc.py:1310-1313)
    for merged, sources in _merged_arrays.items():
        for s in sources:
            raw_renames.setdefault(s, f"RAW_{s}")
    # multi-person election: keep candidates only if person counts agree
    # across columns (reference preproc.py:1861-1923); a lone candidate
    # stands on its own. Only DELIMITER modes vote — the specialized
    # encodings (WITH_NAME/DEMO_COL/WITH_COUNTS) carry no person delimiter
    # (m.delim is None, which would crash the split) and are self-evident.
    delim_cands = {c: m.delim for c, m in mult_candidates.items() if m.delim}
    if delim_cands and not agreement(ident.sample, delim_cands):
        for c in delim_cands:
            mult_candidates.pop(c, None)
    for t in transforms:
        if t.orig_column_name in mult_candidates:
            t.data_maps = {**(t.data_maps or {}),
                           "multi": mult_candidates[t.orig_column_name].type.value}

    # ---------------------------------------------------- race/ethnicity combo
    # (reference preproc.py:1533-1620): merged column where ethnicity wins
    # if LATINO; RE_GROUP convenience alias. Runs AFTER the multi-person
    # election so it knows which canonical columns are array<string>
    # (numbered merges / multi-person cells) and can combine element-wise.
    spec_names = {canonical for canonical, _, _ in specs}
    array_canonicals = {
        canonical for canonical, raw, _ in specs
        if raw in mult_candidates or raw in _merged_arrays
    }

    def _latino_merge(r: str, e: str) -> str:
        return (f"CASE WHEN {e} = {lit(defs.Ethnicity.LATINO)} "
                f"THEN {lit(defs.Race.LATINO)} ELSE {r} END")

    def _space_concat(r: str, e: str) -> str:
        return f"concat_ws({lit(' ')}, {r}, {e})"

    combine = _latino_merge if race_eth_combo == "merge" else _space_concat

    for race_c, eth_c, combo_c, group_c in [
        (Columns.RACE_SUBJECT, Columns.ETHNICITY_SUBJECT,
         Columns.RACE_ETHNICITY_SUBJECT, Columns.RE_GROUP_SUBJECT),
        (Columns.RACE_OFFICER, Columns.ETHNICITY_OFFICER,
         Columns.RACE_ETHNICITY_OFFICER, Columns.RE_GROUP_OFFICER),
        (Columns.RACE_OFF_SUB, Columns.ETHNICITY_OFF_SUB,
         Columns.RACE_ETHNICITY_OFF_SUB, Columns.RE_GROUP_OFF_SUB),
    ]:
        if race_c in spec_names and eth_c in spec_names and race_eth_combo:
            # element-wise over whichever side is per person (array)
            race, eth = sql_ident(race_c), sql_ident(eth_c)
            r_arr, e_arr = race_c in array_canonicals, eth_c in array_canonicals
            if r_arr and e_arr:
                combo = f"zip_with({race}, {eth}, (__x, __y) -> {combine('__x', '__y')})"
            elif r_arr:
                combo = f"transform({race}, __x -> {combine('__x', eth)})"
            elif e_arr:
                combo = f"transform({eth}, __x -> {combine(race, '__x')})"
            else:
                combo = combine(race, eth)
            post_cols[combo_c] = combo
            post_cols[group_c] = combo
            transforms.append(DataMapping(None, combo_c))
        elif race_c in spec_names:
            post_cols[group_c] = sql_ident(race_c)

    # apply: one selectExpr per projection — raw renames (with the
    # numbered-merge arrays, under their RAW_ names), the canonical
    # columns, then the columns built from canonical ones
    out, columns = _with_columns(df, df.columns, {
        raw_renames.get(k, k): v for k, v in merged_cols.items()}, raw_renames)
    out, columns = _with_columns(out, columns, {
        canonical: (
            multi_sql(sql_ident(raw_renames.get(raw, raw)),
                      mult_candidates[raw], builder,
                      **mult_kwargs.get(raw, {}))
            if raw in mult_candidates
            else builder(sql_ident(raw_renames.get(raw, raw)))
        )
        for canonical, raw, builder in specs
    })
    if post_cols:
        out, _ = _with_columns(out, columns, post_cols)

    if collect_value_counts:
        # audit head-5 value counts (reference _preproc_utils.py:15) — one
        # small job per mapped column, opt-in.
        for t in transforms:
            if not t.orig_column_name:
                continue
            src = raw_renames.get(t.orig_column_name, t.orig_column_name)
            if src not in out.columns:
                # synthetic records (e.g. the numbered-merge audit row whose
                # orig_column_name is the str(list) of source columns)
                continue
            t.orig_value_counts = (
                out.groupBy(src).count()
                .orderBy(F.desc("count")).limit(5).toPandas()
            )

    if not keep_raw:
        drop = [raw_renames.get(raw, raw) for _, raw in col_map.items()]
        drop += [raw_renames[s] for srcs in _merged_arrays.values()
                 for s in srcs]
        out = out.drop(*drop)

    for t in transforms:
        # the reference logs each mapping decision at INFO
        # (preproc.py:1264-1266 "Column X will be mapped to Y")
        _log.info("Column %s will be mapped to %s",
                  t.orig_column_name, t.new_column_name)
    return out, transforms
