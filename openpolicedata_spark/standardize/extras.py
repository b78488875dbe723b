"""Standardization extras: name columns, swap repair, one-hot folding,
agency code lookups.

Parity targets in /root/reference/openpolicedata:
- person-name validator             preproc.py:2450-2477
- race/gender swap detection        preproc.py:972-993
- boolean one-hot → category fold   _converters.py:37-124 (Bloomington)
- ORI / id → agency lookup tables   preproc.py:2498-2565
"""

from __future__ import annotations

import re
from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openpolicedata_spark.functions.sqltext import column, ident, lit

_NAME_RE = re.compile(r"^[A-Za-z][A-Za-z'.\-]+([ ,]+[A-Za-z][A-Za-z'.\-]*)+$")


def validate_name(s: pd.Series) -> bool:
    """Person-name validator (reference preproc.py:2450-2477): multi-word
    alphabetic values like 'SMITH, JOHN' / 'John Smith'."""
    v = s.dropna().astype(str).str.strip()
    v = v[v != ""]
    if len(v) == 0:
        return False
    return v.map(lambda x: bool(_NAME_RE.match(x))).mean() >= 0.5


def detect_gender_race_swap(sample: pd.DataFrame, race_col: str,
                            gender_col: str,
                            validate_race, validate_gender) -> bool:
    """True when the publisher swapped the columns: the 'race' column
    validates as gender AND the 'gender' column validates as race
    (reference `_check_for_gender_race_swap` preproc.py:972-993)."""
    return (
        not validate_race(sample[race_col])
        and not validate_gender(sample[gender_col])
        and validate_race(sample[gender_col])
        and validate_gender(sample[race_col])
    )


_TRUTHY = ("true", "t", "yes", "y", "1", "x")


def fold_onehot_sql(cols_to_cats: dict[str, str]) -> str:
    """Fold per-category boolean columns into one categorical value
    (reference boolean-cols branch, _converters.py:37-124: Bloomington
    publishes `white`/`black`/`asian_pacific_islander` booleans), as SQL.

    Rows with several true flags concatenate the categories with ', '
    (multi-racial), matching the reference's delimited multi-value form —
    which the multi-person/mult-race machinery then parses downstream."""
    truthy = ", ".join(lit(t) for t in _TRUTHY)
    parts = ", ".join(
        f"CASE WHEN lower(CAST({ident(c)} AS STRING)) IN ({truthy}) "
        f"THEN {lit(cat)} END"
        for c, cat in cols_to_cats.items())
    out = f"concat_ws({lit(', ')}, {parts})"
    return f"CASE WHEN {out} = {lit('')} THEN NULL ELSE {out} END"


def fold_onehot_expr(cols_to_cats: dict[str, str]) -> Column:
    return column(fold_onehot_sql(cols_to_cats))


def find_onehot_group(columns: Sequence[str],
                      sample: pd.DataFrame) -> Optional[dict[str, str]]:
    """Detect a group of boolean demographic columns by name
    (reference column-name parsing incl. 'non hispanic',
    _converters.py:60-96). Returns {column: CATEGORY} or None."""
    cats = {
        "white": "WHITE", "black": "BLACK", "asian": "ASIAN",
        "hispanic": "LATINO", "latino": "LATINO",
        "native_american": "INDIGENOUS", "american_indian": "INDIGENOUS",
        "pacific_islander": "PACIFIC ISLANDER", "unknown": "UNKNOWN",
        "asian_pacific_islander": "AAPI",
    }
    out: dict[str, str] = {}
    for c in columns:
        key = re.sub(r"[^a-z]+", "_", str(c).lower()).strip("_")
        key = re.sub(r"^non_hisp\w*_", "", key)  # 'non hispanic white' → white
        if key in cats:
            vals = sample[c].dropna().astype(str).str.lower()
            if len(vals) == 0 or vals.isin(
                    _TRUTHY + ("false", "f", "no", "n", "0", "")).mean() >= 0.9:
                out[c] = cats[key]
    return out if len(out) >= 2 else None


def apply_code_lookup(df: DataFrame, lookup: DataFrame, code_col: str,
                      out_col: str, lookup_code: str = "code",
                      lookup_value: str = "value") -> DataFrame:
    """Map an agency/ORI code column through an external lookup table via a
    BROADCAST join (reference maps through a pandas dict,
    preproc.py:2498-2565; at 100 TB the lookup stays a broadcast dim so the
    fact side never shuffles)."""
    lk = F.broadcast(
        lookup.select(F.col(lookup_code).alias("__code__"),
                      F.col(lookup_value).alias(out_col)).dropDuplicates(["__code__"])
    )
    return (
        df.join(lk, on=F.col(code_col) == F.col("__code__"), how="left")
        .drop("__code__")
    )
