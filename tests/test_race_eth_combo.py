"""race_eth_combo output for both modes over every race × ethnicity shape:
per-person (array) or scalar on each side."""

from __future__ import annotations

import pytest

from openpolicedata_spark.defs import Columns

SHAPES = {
    # delimited cells: one array per person on both sides
    "both_arrays": (
        [("C1", "WHITE, BLACK", "HISPANIC, NOT HISPANIC"),
         ("C2", "ASIAN", "NOT HISPANIC")],
        "case string, subject_race string, subject_ethnicity string"),
    # numbered race columns merge into an array; ethnicity stays scalar
    "race_array": (
        [("C1", "WHITE", "BLACK", "HISPANIC"),
         ("C2", "BLACK", "WHITE", "NOT HISPANIC")],
        "case string, subject_race1 string, subject_race2 string, "
        "subject_ethnicity string"),
    "ethnicity_array": (
        [("C1", "WHITE", "HISPANIC, NOT HISPANIC"),
         ("C2", "BLACK", "NOT HISPANIC")],
        "case string, subject_race string, subject_ethnicity string"),
    "scalars": (
        [("C1", "WHITE", "HISPANIC"), ("C2", "BLACK", "NOT HISPANIC")],
        "case string, subject_race string, subject_ethnicity string"),
}

EXPECTED = {
    ("merge", "both_arrays"): {"C1": ["LATINO", "BLACK"], "C2": ["ASIAN"]},
    ("merge", "race_array"): {"C1": ["LATINO", "LATINO"],
                              "C2": ["BLACK", "WHITE"]},
    ("merge", "ethnicity_array"): {"C1": ["LATINO", "WHITE"], "C2": ["BLACK"]},
    ("merge", "scalars"): {"C1": "LATINO", "C2": "BLACK"},
    ("concat", "both_arrays"): {"C1": ["WHITE LATINO", "BLACK NON-LATINO"],
                                "C2": ["ASIAN NON-LATINO"]},
    ("concat", "race_array"): {"C1": ["WHITE LATINO", "BLACK LATINO"],
                               "C2": ["BLACK NON-LATINO", "WHITE NON-LATINO"]},
    ("concat", "ethnicity_array"): {"C1": ["WHITE LATINO", "WHITE NON-LATINO"],
                                    "C2": ["BLACK NON-LATINO"]},
    ("concat", "scalars"): {"C1": "WHITE LATINO", "C2": "BLACK NON-LATINO"},
}


@pytest.mark.parametrize("mode,shape", sorted(EXPECTED))
def test_race_eth_combo_every_mode_and_shape(spark, mode, shape):
    from openpolicedata_spark.standardize import standardize

    rows, schema = SHAPES[shape]
    out, _ = standardize(spark.createDataFrame(rows, schema),
                         table_type="USE OF FORCE", race_eth_combo=mode)
    got = {r.case: r[Columns.RE_GROUP_SUBJECT] for r in out.collect()}
    assert got == EXPECTED[mode, shape]
    combo = {r.case: r[Columns.RACE_ETHNICITY_SUBJECT] for r in out.collect()}
    assert combo == got
