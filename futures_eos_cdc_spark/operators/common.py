"""Shared operator utilities."""

from __future__ import annotations

import numbers

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow-but-CPU-heavy input to use the whole cluster.

    A small parquet file arrives as ONE split, which serializes per-row
    compute (hashing, tokenization, decode) on a single core no matter how
    many executors exist. For such operators the one-off round-robin shuffle
    is far cheaper than the lost parallelism. No-op when the input already
    has enough partitions (the 100 TB case — files give ample splits).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# ---------------------------------------------------------------------------
# Literal arrays as ONE parsed SQL expression. ``F.array(*map(F.lit, xs))``
# or ``F.lit(list)`` costs py4j round trips PER ELEMENT (a 4,096-word Bloom
# bitmap made ~4,100 of them); ``F.expr`` of the rendered text costs one.
# Each element renders by its Python type: a float as CAST('repr' AS
# DOUBLE) — shortest-roundtrip repr + correctly-rounded string->double
# reproduces the exact double in any engine; an int as a BIGINT literal;
# a str as a quoted, backslash-escaped literal.
# ---------------------------------------------------------------------------
def sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, numbers.Integral):
        return f"{int(v)}L"
    # float(): numpy scalars repr as 'np.float64(...)'
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def const_array_sql(values) -> str:
    return "array(" + ", ".join(sql_literal(v) for v in values) + ")"


def const_array(values) -> Column:
    """A literal array Column in one py4j call."""
    return F.expr(const_array_sql(values))


# ---------------------------------------------------------------------------
# Multi-term expressions as ONE parsed SQL expression. Every PySpark Column
# operation (``F.transform``, ``F.concat``, ``F.lit``, ``.alias``, each
# Python lambda variable) is at least one py4j round trip, so a builder
# folding dozens of terms costs dozens of round trips per query build; the
# same expression rendered as SQL text and parsed JVM-side costs one.
# Lambda parameters inside rendered text are ``_``-prefixed (``_s``, ``_acc``)
# so they cannot shadow a spliced column name.
# ---------------------------------------------------------------------------
_BOUND = ("_b0", "_b1")


def sql_expr(render, *inputs) -> Column:
    """The parsed SQL expression ``render(*refs)`` over one or two inputs.

    ``render`` maps the SQL text of each input to the expression's text.
    A ``str`` input is a column name and is spliced in as is: a column
    reference costs nothing to read twice. A Column input is bound to a
    lambda parameter instead (``transform(array(e), _b0 -> …)``, or
    ``zip_with`` of two one-element arrays for two), so it is evaluated
    once per row however often ``render`` reads it, and a NULL input
    gives what ``render`` gives for NULL."""
    cols = [x for x in inputs if not isinstance(x, str)]
    if not cols:
        return F.expr(render(*inputs))
    params = _BOUND[: len(cols)]
    it = iter(params)
    refs = [x if isinstance(x, str) else next(it) for x in inputs]
    # SQL writes one lambda parameter bare, two in parentheses
    head = params[0] if len(params) == 1 else f"({', '.join(params)})"
    lam = F.expr(f"{head} -> {render(*refs)}")
    fn = "transform" if len(cols) == 1 else "zip_with"
    return F.element_at(F.call_function(fn, *[F.array(c) for c in cols], lam), 1)
