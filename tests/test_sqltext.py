"""SQL-text expression building (`functions.sqltext`): the quoting helper
round-trips any string through Spark's parser, the public ``*_expr``
wrappers bind any Column, and standardize + expand build their
projections in a bounded number of py4j commands."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from openpolicedata_spark.functions import luts
from openpolicedata_spark.functions.sqltext import ident, lit, sql_of
from test_standardize import stops_df  # noqa: F401  (the STOPS frame fixture)

_TEXT = st.text(st.characters(blacklist_categories=("Cs",)), max_size=12)


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_TEXT, min_size=1, max_size=6))
def test_any_string_survives_as_a_literal(spark, values):
    """Unicode, quotes and backslashes come back unchanged from a parsed
    literal (Spark unescapes backslash sequences in string literals)."""
    row = spark.range(1).select(
        *[F.expr(lit(v)).alias(f"c{i}") for i, v in enumerate(values)]).first()
    assert list(row) == values


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_TEXT.filter(bool), min_size=1, max_size=6,
                unique_by=str.lower))
def test_any_string_survives_as_an_identifier(spark, names):
    """Any column name resolves through `ident`, both as SQL text and as
    the reference `sql_of` reads from ``F.col``."""
    df = spark.createDataFrame([tuple(range(len(names)))],
                               ", ".join(f"{ident(n)} int" for n in names))
    assert df.columns == names
    assert df.selectExpr(*[ident(n) for n in names]).columns == names
    assert [sql_of(F.col(ident(n))) for n in names] == \
        [ident(n) for n in names]


def test_wrappers_bind_composite_columns_and_lambda_variables(spark):
    """A public ``*_expr`` accepts any Column: an expression, or the
    lambda variable of a Column-API higher-order function."""
    df = spark.createDataFrame([("white, b",), (None,)], "v string")
    got = df.select(
        luts.race_expr(F.split(F.col("v"), ", ")[1]).alias("second"),
        F.transform(F.split(F.col("v"), ", "),
                    lambda x: luts.race_expr(x)).alias("all"),
    ).collect()
    assert [tuple(r) for r in got] == [("BLACK", ["WHITE", "BLACK"]),
                                       (None, None)]


# py4j commands standardize + expand send for the STOPS frame of
# tests/test_standardize.py, warm. With every expression built from Column
# operators they sent 3,236-3,645 (local[2]); built as SQL text, 160. A new
# per-column Column build fails here.
STOPS_PY4J_COMMANDS = 300


def test_standardize_and_expand_py4j_commands_are_pinned(
        spark, stops_df, count_py4j):  # noqa: F811
    from openpolicedata_spark.operators.expand import expand
    from openpolicedata_spark.standardize import standardize

    def run():
        out, _ = standardize(stops_df, table_type="STOPS")
        return expand(out)

    run()  # warm: the first call loads JVM classes
    _, sent = count_py4j(run)
    assert 0 < sent <= STOPS_PY4J_COMMANDS
