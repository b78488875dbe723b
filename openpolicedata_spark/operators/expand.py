"""Row expansion: one row per person for multi-person array columns.

Parity target: /root/reference/openpolicedata/data.py:578-679 (`Table.expand`).

The reference stores multi-person demographics as dicts {person_idx: value}
and uses `df.explode`; our standardizer produces `ArrayType` columns
(SURVEY §1.3), so expand = pad arrays to a common length, `arrays_zip`,
`inline_outer` over the zipped persons with their positions. Mismatch
modes (data.py:644-674):

- 'nan'        → pad shorter arrays with null up to the row max
- 'error'      → fail the action if person counts disagree (assert_true)
- 'splitsingle'→ arrays of length 1 are replicated to the row max first
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from openpolicedata_spark.functions.sqltext import conj, ident, lit

PERSON_INDEX = "PERSON_INDEX"


def _sql_type(t: T.DataType) -> str:
    """``t`` as a SQL type, struct field names quoted by `ident`."""
    if isinstance(t, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{ident(f.name)}: {_sql_type(f.dataType)}" for f in t.fields) + ">"
    if isinstance(t, T.ArrayType):
        return f"ARRAY<{_sql_type(t.elementType)}>"
    if isinstance(t, T.MapType):
        return f"MAP<{_sql_type(t.keyType)}, {_sql_type(t.valueType)}>"
    return t.simpleString()


def expand(df: DataFrame, cols: Optional[list[str]] = None,
           mismatch: str = "nan", keep_index: bool = True) -> DataFrame:
    """Explode multi-person array columns into one row per person.

    Scalar (non-array) columns replicate; the person index (the dict keys
    of the reference encoding) is each person's position. Entirely
    expression-based — the explode is a narrow map-side op, no shuffle —
    and built as SQL text applied by one ``selectExpr``.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    if cols is None:
        cols = [n for n, t in fields.items()
                if isinstance(t, (T.ArrayType, T.MapType))]
    if not cols:
        return df
    maps = {}
    for c in cols:
        t = fields[c]
        if isinstance(t, T.MapType):
            maps[c] = t.valueType
        elif not isinstance(t, T.ArrayType):
            raise ValueError(f"Column {c} is not an array or map column")
    if maps:
        # MapType {person_idx: value} cells (reference dict encoding,
        # data.py:578-679 converts dicts → value lists before explode):
        # key-ordered values become the array form, then one code path
        df = df.selectExpr(*[
            f"transform(array_sort(map_keys({ident(c)})), "
            f"__k -> element_at({ident(c)}, __k)) AS {ident(c)}"
            if c in maps else ident(c) for c in fields])
    elem_types = {c: maps[c] if c in maps else fields[c].elementType
                  for c in cols}

    sizes = [f"size({ident(c)})" for c in cols]
    n = f"greatest({', '.join(sizes)})" if len(sizes) > 1 else sizes[0]
    n = f"CASE WHEN {n} < 1 THEN 1 ELSE {n} END"  # rows with all-empty arrays keep 1 row

    if mismatch == "error":
        # Fail the action on disagreeing person counts (data.py mismatch='error').
        agree = conj(*[f"size({ident(c)}) <= 1 OR size({ident(c)}) = {n}"
                       for c in cols])
        df = df.where(f"CASE WHEN {agree} THEN TRUE ELSE raise_error("
                      f"{lit('mismatched person counts in expand')}) END")

    def padded(c: str) -> str:
        arr = ident(c)
        if mismatch == "splitsingle":
            # replicate singletons to the row max (data.py:666-674)
            arr = (f"CASE WHEN size({arr}) = 1 THEN transform(sequence(1, {n}), "
                   f"__i -> element_at({arr}, 1)) ELSE {arr} END")
        # pad with nulls to n (data.py:644-664 'nan' mode). Guard the
        # sequence: sequence(1, 0) yields a DESCENDING sequence, not empty.
        pad = (f"transform(sequence(1, {n} - size({arr})), "
               f"__i -> CAST(NULL AS {_sql_type(elem_types[c])}))")
        return f"CASE WHEN size({arr}) >= {n} THEN {arr} ELSE concat({arr}, {pad}) END"

    # arrays_zip names the fields of computed arrays by position
    person = ", ".join(
        ([f"__i AS {ident(PERSON_INDEX)}"] if keep_index else [])
        + [f"__z.{ident(str(k))} AS {ident(c)}" for k, c in enumerate(cols)])
    people = (f"transform(arrays_zip({', '.join(padded(c) for c in cols)}), "
              f"(__z, __i) -> struct({person}))")
    other = [ident(c) for c in fields if c not in cols]
    return df.selectExpr(*other, f"inline_outer({people})")
