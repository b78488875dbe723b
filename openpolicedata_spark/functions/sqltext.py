"""SQL text for column expressions: the one quoting helper for every
literal and identifier, and the bridge from SQL builders to Columns.

Building an expression with Column operators costs one py4j round trip
per operator (each ``F.lit``/``F.when``/method call sends several
commands); a standardize projection used to send thousands. The same
expression written as SQL text is one ``F.expr``/``selectExpr`` call,
parsed JVM-side into the same Catalyst tree. So the expression builders
of `functions.luts`, `functions.datetime`, `standardize` and
`operators.expand` are ``*_sql(ref, ...) -> str`` functions over the
SQL text ``ref`` of their input, and the public ``*_expr(col, ...)``
functions are thin wrappers: ``bind(build, col)``.
"""

from __future__ import annotations

from typing import Callable, Optional, Union

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.column import _to_seq

ColumnOrName = Union[Column, str]

# the SQL text a Column built by `column` was parsed from
_TEXT = "_opd_sql_text"


def lit(value) -> str:
    """``value`` as a SQL literal. A string is single-quoted with its
    backslashes and quotes escaped: Spark's parser unescapes backslash
    sequences in string literals (``spark.sql.parser.escapedStringLiterals``
    at its default, false), so a regex's ``\\d`` must arrive as ``\\\\d``."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def ident(name: str) -> str:
    """``name`` as one backquoted SQL identifier, whatever it holds
    (a dot inside is part of the name, not a field access)."""
    return "`" + name.replace("`", "``") + "`"


def conj(*conds: str) -> str:
    """``conds`` joined by AND, grouped left to right as a Column ``&``
    chain is (the parser builds a balanced tree from a flat chain)."""
    out = conds[0]
    for c in conds[1:]:
        out = f"({out}) AND ({c})"
    return out


def column(text: str) -> Column:
    """``F.expr(text)``, remembering ``text`` so that a builder given this
    Column can embed its SQL (`sql_of`)."""
    out = F.expr(text)
    setattr(out, _TEXT, text)
    return out


def sql_of(col: ColumnOrName) -> Optional[str]:
    """The SQL text of ``col``: a name, a Column built by `column`, or a
    plain column reference (``F.col``), whose name parts are read from
    the Column and quoted by `ident` (never from the Column's rendered
    SQL, which leaves identifiers unquoted). None for any other Column."""
    if isinstance(col, str):
        return ident(col)
    text = vars(col).get(_TEXT)  # Column.__getattr__ reads struct fields
    if text is not None:
        return f"({text})"
    node = col._jc.node()
    if node.getClass().getName() != "org.apache.spark.sql.internal.UnresolvedAttribute":
        return None
    parts = node.nameParts()
    return ".".join(ident(parts.apply(i)) for i in range(parts.size()))


def bind(build: Callable[..., str], *cols: ColumnOrName) -> Column:
    """``build`` (SQL text of its inputs → SQL text) applied to ``cols``.
    When every input has SQL text this is one ``F.expr``. Any other
    Column (a composite expression, a lambda variable) is passed in as
    the argument of a one-element ``transform`` whose lambda is parsed
    from ``build``'s text."""
    refs = [sql_of(c) for c in cols]
    if None not in refs:
        return column(build(*refs))
    bound = [i for i, r in enumerate(refs) if r is None]
    for i in bound:
        refs[i] = f"__arg.a{i}"
    spark = SparkSession.active()
    jvm = spark.sparkContext._jvm
    hof = spark._jsparkSession.sessionState().sqlParser().parseExpression(
        f"transform(array(NULL), __arg -> {build(*refs)})")
    lam = jvm.org.apache.spark.sql.classic.ExpressionUtils.column(
        hof.children().apply(1))
    arg = F.array(F.struct(*[cols[i].alias(f"a{i}") for i in bound]))
    call = jvm.PythonSQLUtils.fn(
        "transform", _to_seq(spark.sparkContext, [arg._jc, lam]))
    return Column(call)[0]


def sql_fn(fn: Callable[[Column], Column]) -> Callable[[str], str]:
    """A SQL builder from a Column function made of this package's
    ``*_expr`` builders (or returning its input): ``fn`` is called once
    per build on a Column that stands for the builder's input."""
    def build(ref: str) -> str:
        out = sql_of(fn(column(ref)))
        if out is None:
            raise TypeError(
                "the item function must build its Column from this "
                "package's *_expr functions (its SQL text is embedded)")
        return out

    return build
