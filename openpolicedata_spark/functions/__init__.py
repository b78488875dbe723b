"""Scalar function library — the standardization "operator library" of the
reference (_converters.py, datetime_parser.py) compiled to native Column
expressions, plus text-analysis functions for LLM-data pipelines.

Design rule (SURVEY §4): every hot-path transform is a JVM-side Column
expression (whole-stage codegen, vectorized); Python appears only in
driver-side *planning* (format detection on samples) and clearly-marked
Pandas-UDF fallbacks for the exotic long tail.
"""

from openpolicedata_spark.functions.luts import (
    compile_lut,
    race_expr,
    ethnicity_expr,
    gender_expr,
    age_expr,
    age_range_expr,
    injury_expr,
    fatal_expr,
    firearm_expr,
    role_expr,
)
from openpolicedata_spark.functions.datetime import (
    to_datetime_expr,
    detect_date_format,
    parse_time_expr,
    merge_date_time_expr,
)
from openpolicedata_spark.functions.text import (
    token_count_expr,
    tokens_expr,
    quality_metrics,
    fingerprint_md5_expr,
    shingles_expr,
    language_id_expr,
    bpe_token_count_expr,
)

__all__ = [
    "compile_lut", "race_expr", "ethnicity_expr", "gender_expr", "age_expr",
    "age_range_expr", "injury_expr", "fatal_expr", "firearm_expr", "role_expr",
    "to_datetime_expr", "detect_date_format", "parse_time_expr",
    "merge_date_time_expr",
    "token_count_expr", "tokens_expr", "quality_metrics",
    "fingerprint_md5_expr", "shingles_expr", "language_id_expr", "bpe_token_count_expr",
]
