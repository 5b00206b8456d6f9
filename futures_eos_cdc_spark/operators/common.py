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
def _sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, numbers.Integral):
        return f"{int(v)}L"
    # float(): numpy scalars repr as 'np.float64(...)'
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def const_array_sql(values) -> str:
    return "array(" + ", ".join(_sql_literal(v) for v in values) + ")"


def const_array(values) -> Column:
    """A literal array Column in one py4j call."""
    return F.expr(const_array_sql(values))
