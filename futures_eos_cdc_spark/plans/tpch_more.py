"""Additional TPC-H-shaped queries (Q3/Q5 adaptations) + small operator
queries closing out the SURVEY.md §2 inventory (P10 strength, approximate
aggregates)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.signal_pipeline import DEC, signals_from_events, with_strength

# ---------------------------------------------------------------------------
# Q3 shape: shipping-priority revenue (3-way join, filter both sides, top-k)
# ---------------------------------------------------------------------------
_CUTOFF = "1998-01-01 00:00:00"
_CUTOFF_S = 883612800

Q3_ORACLE = f"""
SELECT
  l.l_orderkey,
  CAST(epoch(o.o_orderdate) AS BIGINT) AS o_orderdate_s,
  o.o_orderpriority,
  CAST(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(38,10)))
    AS VARCHAR) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND epoch(o.o_orderdate) < {_CUTOFF_S}
  AND epoch(l.l_shipdate) > {_CUTOFF_S}
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q3 shape. Both date filters push to the parquet scans; customer
    is the small build side; TakeOrderedAndProject caps the result."""
    from .registry import _dsum, _ntz_epoch_s, _ntz_lit

    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < _ntz_lit(_CUTOFF))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > _ntz_lit(_CUTOFF))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_orderkey",
            _ntz_epoch_s("o_orderdate").alias("o_orderdate_s"),
            "o_orderpriority",
        )
        .agg(_dsum("l_extendedprice * (1D - l_discount)", "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q5 shape: revenue per nation within a region (5-way join)
# ---------------------------------------------------------------------------
Q5_ORACLE = """
SELECT
  n.n_name AS nation,
  CAST(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(38,10)))
    AS VARCHAR) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_items
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE r.r_name = 'ASIA'
GROUP BY 1
"""


def q_regional_revenue(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q5 shape. region/nation broadcast (the r_name filter prunes at
    the broadcast build), customer broadcasts at small SF / shuffles at
    scale (AQE decides), one exchange for the final 1-key aggregate."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        F.broadcast(r)
        .join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).cast(DEC))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q6 shape: revenue-change forecast (pure filter + aggregate, zero joins)
# ---------------------------------------------------------------------------
_Q6_LO_S = 852076800  # 1997-01-01 UTC
_Q6_HI_S = 883612800  # 1998-01-01 UTC

Q6_ORACLE = f"""
SELECT
  CAST(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,10)))
    AS VARCHAR) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE epoch(l_shipdate) >= {_Q6_LO_S}
  AND epoch(l_shipdate) < {_Q6_HI_S}
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24.0
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q6 shape: every predicate pushes to the parquet scan
    (PushedFilters on l_shipdate/l_discount/l_quantity), projection prunes to
    3 columns, and the aggregate is a single partial+final pair with no group
    keys — at 100 TB this is I/O-bound by exactly the pruned column bytes."""
    from .registry import _dsum, _ntz_lit

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ntz_lit("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ntz_lit("1998-01-01 00:00:00"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            _dsum("l_extendedprice * l_discount", "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q4 shape: order-priority count with EXISTS (left-semi join)
# (the fixture lineitem has no commit/receipt dates — the EXISTS predicate is
# "has a returned lineitem", same plan shape as TPC-H Q4's late-lineitem test)
# ---------------------------------------------------------------------------
Q4_ORACLE = f"""
SELECT
  o_orderpriority,
  CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE epoch(o_orderdate) >= {_Q6_LO_S}
  AND epoch(o_orderdate) < {_Q6_HI_S}
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
  )
GROUP BY o_orderpriority
"""


def q_order_priority(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join. The semi-join shuffles only
    l_orderkey (the probe payload is one bigint per returned lineitem); the
    returnflag filter pushes to the parquet scan; the 5-value groupBy is
    map-side partial."""
    from .registry import _ntz_lit

    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ntz_lit("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ntz_lit("1998-01-01 00:00:00"))
    )
    late = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery shape: parts priced above their brand average
# ---------------------------------------------------------------------------
ABOVE_BRAND_AVG_ORACLE = """
WITH b AS (
  SELECT p_brand,
    CAST(CAST(sum(CAST(p_retailprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
      / count(*) AS brand_avg
  FROM part GROUP BY p_brand
)
SELECT p.p_brand,
  CAST(count(*) AS BIGINT) AS n_above,
  round(max(p.p_retailprice - b.brand_avg), 6) AS max_premium
FROM part p JOIN b ON p.p_brand = b.p_brand
WHERE p.p_retailprice > b.brand_avg
GROUP BY p.p_brand
"""


def q_above_brand_avg(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Correlated-subquery shape (price > AVG over its own brand), decorrelated
    the way Catalyst itself rewrites it: aggregate-then-join. The brand-avg
    side is tiny (|brands|) → broadcast; the fact side never shuffles."""
    p = _t(spark, sf_dir, "part")
    b = p.groupBy(F.col("p_brand").alias("b_brand")).agg(
        (F.sum(F.col("p_retailprice").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
            "brand_avg"
        )
    )
    return (
        p.join(F.broadcast(b), p.p_brand == b.b_brand)
        .filter(F.col("p_retailprice") > F.col("brand_avg"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.round(F.max(F.col("p_retailprice") - F.col("brand_avg")), 6).alias(
                "max_premium"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Q12 shape: shipmode-style buckets via conditional aggregation
# (fixture has no l_shipmode — bucket by order priority urgency instead,
# same CASE-inside-agg plan shape as TPC-H Q12)
# ---------------------------------------------------------------------------
Q12_ORACLE = f"""
SELECT
  l.l_linestatus,
  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE epoch(l.l_shipdate) >= {_Q6_LO_S}
  AND epoch(l.l_shipdate) < {_Q6_HI_S}
GROUP BY l.l_linestatus
"""


def q_priority_shipping(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q12 shape: join + CASE-inside-SUM conditional aggregation. The
    date filter pushes to the lineitem scan; the join shuffles only
    (l_orderkey, l_linestatus) vs (o_orderkey, o_orderpriority)."""
    from .registry import _ntz_lit

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ntz_lit("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ntz_lit("1998-01-01 00:00:00"))
        )
        .select("l_orderkey", "l_linestatus")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q14 shape: conditional revenue ratio (promo % by part type prefix)
# ---------------------------------------------------------------------------
Q14_ORACLE = """
SELECT
  CAST(CAST(sum(CAST(CASE WHEN p.p_type LIKE 'PROMO%'
        THEN l.l_extendedprice * (1.0 - l.l_discount) ELSE 0.0 END
        AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) * 100.0
  / CAST(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS promo_revenue_pct,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q14 shape: CASE-gated revenue over total revenue. part is the
    small side → broadcast; single global aggregate, no group keys."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.sum(promo.cast(DEC)).cast("double")
                * 100.0
                / F.sum(rev.cast(DEC)).cast("double")
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q18 shape: large-volume orders (HAVING over a grouped sum, then join back)
# ---------------------------------------------------------------------------
Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(38,10))) > CAST(200.0 AS DECIMAL(38,10))
)
SELECT
  c.c_custkey,
  c.c_name,
  o.o_orderkey,
  CAST(epoch(o.o_orderdate) AS BIGINT) AS o_orderdate_s,
  o.o_totalprice,
  CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total_qty
FROM orders o
JOIN big ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2, 3, 4, 5
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


def q_large_volume_orders(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q18 shape: grouped-HAVING pre-filter (the `big` semi-side is the
    aggregate itself), then 3-way join + re-aggregate + top-k. The HAVING
    output is tiny → AQE broadcasts it into the orders join."""
    from .registry import _dsum, _ntz_epoch_s

    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("sq"))
        .filter(F.col("sq") > F.lit(200.0).cast(DEC))
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(li.select(F.col("l_orderkey").alias("lk"), "l_quantity"), F.col("lk") == o.o_orderkey)
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            _ntz_epoch_s("o_orderdate").alias("o_orderdate_s"),
            "o_totalprice",
        )
        .agg(_dsum("l_quantity", "total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# P10: timeframe → strength CASE as a histogram
# ---------------------------------------------------------------------------
STRENGTH_ORACLE = """
WITH signals AS (
  SELECT
    CASE event_id % 3 WHEN 0 THEN '1m' WHEN 1 THEN '5m' ELSE '15m' END AS timeframe
  FROM events
)
SELECT timeframe,
  CASE timeframe WHEN '1m' THEN 'WEAK' WHEN '5m' THEN 'MEDIUM'
       WHEN '15m' THEN 'STRONG' ELSE 'UNKNOWN' END AS strength,
  CAST(CASE timeframe WHEN '1m' THEN 1 WHEN '5m' THEN 2
       WHEN '15m' THEN 3 ELSE 0 END AS INT) AS strength_weight,
  CAST(count(*) AS BIGINT) AS n
FROM signals
GROUP BY 1, 2, 3
"""


def q_strength_histogram(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    sig = with_strength(signals_from_events(_t(spark, sf_dir, "events")))
    return sig.groupBy("timeframe", "strength", "strength_weight").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# Approximate aggregates, self-verifying: sketch internals differ across
# engines, so instead of emitting raw sketch outputs (unverifiable), the
# query emits the EXACT aggregates plus booleans asserting the sketches
# landed inside their documented error bounds. The oracle reproduces the
# exact columns and expects every bound flag TRUE — a sketch drifting out
# of tolerance turns the driver row red instead of being invisible.
# ---------------------------------------------------------------------------
APPROX_AGG_ORACLE = """
SELECT
  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
  TRUE AS parts_err_ok,
  TRUE AS orders_err_ok,
  TRUE AS median_rank_ok,
  TRUE AS p99_rank_ok
FROM lineitem
"""


def q_approx_aggregates(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """HLL++ distinct counts and quantile sketches, checked in-query.

    approx_count_distinct (default rsd 5%) must land within 15% (3σ) of the
    exact count; percentile_approx's result must sit at the right RANK —
    the fraction of rows ≤ the approx median must be 0.5 ± 0.05 (p99:
    0.99 ± 0.005+floor slack) — rank is the sketch's actual contract and is
    integer-robust, unlike comparing interpolated values across engines.

    Plan shape — three independent 1-row pipelines cross-joined at the end
    (broadcasts of single rows), chosen by measurement: (1) the sketch
    pass; (2) exact distinct counts ALONE — a solo two-distinct agg plans
    as a clean Expand ×2 (~30 ms at sf0.1), whereas fusing it with the
    broadcast-joined rank pass made Expand run over the join output and
    tripled the query (1.23 s → 0.83 s after the split); (3) the rank
    fractions, which are the only pass that genuinely needs the sketch row
    joined onto the scan. Three cheap column-pruned scans beat two
    entangled ones here.
    """
    li = _t(spark, sf_dir, "lineitem")
    sk = li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.percentile_approx("l_extendedprice", 0.99).alias("approx_p99_price"),
    )
    exact = li.agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
    )
    fracs = li.join(F.broadcast(sk)).agg(
        F.first("approx_parts").alias("approx_parts"),
        F.first("approx_orders").alias("approx_orders"),
        (
            F.sum(
                F.when(
                    F.col("l_extendedprice") <= F.col("approx_median_price"), 1
                ).otherwise(0)
            )
            / F.count(F.lit(1))
        ).alias("median_rank_frac"),
        (
            F.sum(
                F.when(
                    F.col("l_extendedprice") <= F.col("approx_p99_price"), 1
                ).otherwise(0)
            )
            / F.count(F.lit(1))
        ).alias("p99_rank_frac"),
    )
    agg = exact.join(F.broadcast(fracs))
    rel_err = lambda a, e: F.abs(a.cast("double") / e.cast("double") - 1.0)  # noqa: E731
    return agg.select(
        "exact_parts",
        "exact_orders",
        (rel_err(F.col("approx_parts"), F.col("exact_parts")) <= 0.15).alias(
            "parts_err_ok"
        ),
        (rel_err(F.col("approx_orders"), F.col("exact_orders")) <= 0.15).alias(
            "orders_err_ok"
        ),
        F.col("median_rank_frac").between(0.45, 0.55).alias("median_rank_ok"),
        F.col("p99_rank_frac").between(0.985, 1.0).alias("p99_rank_ok"),
    )
