"""Skew mitigation: salting for hot keys.

AQE's skew-join splitting (on by default in session.py) handles skewed
SORT-MERGE joins at runtime. Salting covers the two cases AQE does not:

- **Aggregation skew**: one hot group key (a viral document hash, BTCUSDT
  during a burst) lands every row on one reducer. ``salted_aggregate`` runs
  the agg in two stages — (key, salt) partial, then key final — so the hot
  key fans out over `n_salts` reducers. Only algebraic aggregates compose
  this way (sum/count/min/max; avg = sum/count); the API takes them by name
  so the merge stage is generated correctly.
- **Skewed shuffle join where neither side broadcasts**: ``salted_join``
  disperses the big side by a deterministic per-row salt and replicates the
  small side `n_salts`× — trading `n_salts`× duplication of the small side
  for even reducer load on the hot keys.

Both are row-level exact: results are identical to the unsalted plan
(asserted in tests/test_skew.py), only the exchange layout changes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .common import const_array

# (partial-stage expr builder, merge-stage expr builder) per algebraic op
_ALGEBRAIC = {
    "sum": (lambda c: F.sum(c), lambda c: F.sum(c)),
    "count": (lambda c: F.count(c), lambda c: F.sum(c)),
    "min": (lambda c: F.min(c), lambda c: F.min(c)),
    "max": (lambda c: F.max(c), lambda c: F.max(c)),
}


def _salt_expr(df: DataFrame, n_salts: int) -> Column:
    """Deterministic per-row salt: hash of the whole row MIXED WITH the
    partition id. The partition component matters for the headline hot-key
    case — a viral document duplicated byte-for-byte: a content-only hash
    gives every copy the SAME salt, collapsing them back onto one reducer;
    adding spark_partition_id() disperses copies that sit in different input
    partitions (same-partition copies still share a salt — an accepted bound).

    Retry safety: deliberately NO monotonically_increasing_id() — that mixes a
    per-partition COUNTER into a shuffle partition key, so a map-task retry
    whose input iterates in a different row order (possible downstream of a
    shuffle) would re-salt rows that already-fetched reducers consumed,
    losing/duplicating rows (SPARK-23207-class indeterminate-stage hazard).
    spark_partition_id() is constant per task attempt and file scans re-split
    deterministically, so retries reproduce the same salt for every row."""
    return F.pmod(
        F.xxhash64(*[df[c] for c in df.columns], F.spark_partition_id()),
        F.lit(n_salts),
    )


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation.

    ``aggs`` maps output alias → (input column, op) with op in
    sum/count/min/max. Example::

        salted_aggregate(li, ["l_returnflag"],
                         {"qty": ("l_quantity", "sum"), "n": ("*", "count")})

    Stage 1 groups by (keys..., salt) — the hot key's rows spread over
    n_salts reducers; stage 2 merges the ≤ n_salts partials per key. The
    second shuffle carries only |keys|×n_salts rows.
    """
    for alias, (_, op) in aggs.items():
        if op not in _ALGEBRAIC:
            raise ValueError(f"{alias}: '{op}' is not algebraic (use sum/count/min/max)")
    salted = df.withColumn("__salt", _salt_expr(df, n_salts))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[
            _ALGEBRAIC[op][0](F.lit(1) if col == "*" else F.col(col)).alias(alias)
            for alias, (col, op) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _ALGEBRAIC[op][1](F.col(alias)).alias(alias)
            for alias, (_, op) in aggs.items()
        ]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the big side, replicate the small side.

    Each big-side row gets one deterministic salt in [0, n_salts); the small
    side is exploded n_salts× so every (key, salt) pair finds its match. The
    shuffle then partitions on (key, salt) — a key holding 50% of the data
    spreads over n_salts reducers instead of one.

    Only join types where the replicated side never emits unmatched rows are
    allowed: inner / left / left_semi / left_anti (the big side carries
    exactly one salt, so its unmatched rows emit once). right/full would emit
    every unmatched SMALL-side row n_salts times — silently wrong.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how='{how}' would duplicate unmatched small-side "
            f"rows {n_salts}x; use one of {sorted(allowed)} or an unsalted join"
        )
    b = big.withColumn("__salt", _salt_expr(big, n_salts))
    s = small.withColumn(
        "__salt", F.explode(const_array(range(n_salts)))
    )
    return b.join(s, on + ["__salt"], how).drop("__salt")
