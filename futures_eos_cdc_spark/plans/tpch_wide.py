"""Wider TPC-H-shaped relational coverage (Q7-Q22 adaptations).

The reference has no general query surface (SURVEY.md §2.6: its only joins are
a constant-map lookup and a logical FK) — these queries prove the *engine's*
relational completeness on the driver fixtures, each with a DuckDB oracle and
a docstring stating the Catalyst plan it is designed to produce at 100 TB.

Fixture adaptations (no partsupp / l_shipmode / p_container / c_phone in the
driver's tables): each query keeps the reference TPC-H plan SHAPE — the join
graph, subquery structure, and aggregation pattern — while substituting
available columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.signal_pipeline import DEC

# ---------------------------------------------------------------------------
# Q7 shape: trade volume between two nations by year (6-way join, OR pair)
# ---------------------------------------------------------------------------
Q7_ORACLE = """
SELECT
  supp_nation, cust_nation, l_year,
  CAST(CAST(sum(CAST(volume AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_items
FROM (
  SELECT
    n1.n_name AS supp_nation,
    n2.n_name AS cust_nation,
    CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
    l.l_extendedprice * (1.0 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_19')
     OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_3')
) shipping
GROUP BY 1, 2, 3
"""


def q_nation_trade_volume(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q7 shape: lineitem fact joined to two nation-qualified dims with
    a disjunctive nation-pair predicate. supplier/customer/nation broadcast
    (dims); the fact side never shuffles for the joins — one exchange for the
    3-key aggregate. The OR pair predicate evaluates post-join (it spans both
    sides, not pushable)."""
    n = _t(spark, sf_dir, "nation")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    # NATION_3/NATION_19: the pair is populated at every fixture SF
    # (NATION_1/NATION_2 is empty at sf0.001).
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_19")
    ) | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).cast(DEC))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q8 shape: national market share within a region by year
# ---------------------------------------------------------------------------
Q8_ORACLE = """
SELECT
  o_year,
  CAST(CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END
    AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
  / CAST(CAST(sum(CAST(volume AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS mkt_share,
  CAST(count(*) AS BIGINT) AS n_items
FROM (
  SELECT
    CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
    l.l_extendedprice * (1.0 - l.l_discount) AS volume,
    n1.n_name AS supp_nation
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  JOIN region r ON n2.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
) all_nations
GROUP BY o_year
"""


def q_market_share(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q8 shape: conditional-share aggregation (CASE-gated sum over
    total sum) across a 7-way join. All dims broadcast; the region filter
    prunes the customer-side nation broadcast build; single exchange on the
    1-key (year) aggregate."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cn = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (F.sum(nat_vol.cast(DEC)).cast("double") / F.sum(vol.cast(DEC)).cast("double")).alias(
                "mkt_share"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q9 shape: profit by supplier nation and year (part-name filter)
# ---------------------------------------------------------------------------
Q9_ORACLE = """
SELECT
  nation, o_year,
  CAST(CAST(sum(CAST(amount AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_profit,
  CAST(count(*) AS BIGINT) AS n_items
FROM (
  SELECT
    n.n_name AS nation,
    CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
    l.l_extendedprice * (1.0 - l.l_discount) - 0.4 * p.p_retailprice * l.l_quantity AS amount
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE p.p_name LIKE '%widget%'
) profit
GROUP BY 1, 2
"""


def q_profit_by_nation(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q9 shape (supplycost → 0.4×retailprice proxy: the fixture has no
    partsupp). The selective part-name LIKE prunes the broadcast build side,
    so the fact scan's join probe discards ~%s of rows before the orders
    join; one exchange for the (nation, year) aggregate."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    amount = (
        F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
        - F.lit(0.4) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(amount.cast(DEC)).cast("double").alias("sum_profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q10 shape: returned-item reporting (top 20 customers by lost revenue)
# ---------------------------------------------------------------------------
Q10_ORACLE = """
SELECT
  c.c_custkey, c.c_name,
  CAST(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(38,10)))
    AS VARCHAR) AS DOUBLE) AS revenue,
  c.c_acctbal,
  n.n_name AS nation
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE epoch(o.o_orderdate) >= 852076800
  AND epoch(o.o_orderdate) < 867715200
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 4, 5
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_returned_items(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q10 shape: both filters push to the parquet scans (orderdate
    range on orders, returnflag on lineitem); nation broadcasts; the
    customer join shuffles only post-filter orders; TakeOrderedAndProject
    caps the result at 20."""
    from .registry import _dsum, _ntz_lit

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ntz_lit("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ntz_lit("1997-07-01 00:00:00"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(_dsum("l_extendedprice * (1D - l_discount)", "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11 shape: important suppliers (HAVING against a global scalar subquery)
# ---------------------------------------------------------------------------
Q11_ORACLE = """
WITH v AS (
  SELECT l_suppkey,
    CAST(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(38,10)))
      AS VARCHAR) AS DOUBLE) AS value
  FROM lineitem GROUP BY l_suppkey
),
t AS (
  SELECT CAST(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(38,10)))
    AS VARCHAR) AS DOUBLE) AS total
  FROM lineitem
)
SELECT v.l_suppkey AS s_suppkey, v.value
FROM v, t
WHERE v.value > t.total * 0.0105
"""


def q_important_suppliers(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q11 shape: per-key value vs a global-total scalar subquery in
    HAVING. The scalar total is a 1-row broadcast-nested-loop (free); the
    per-supplier aggregate is the only exchange. The total is computed
    decimal-exact from base data (NOT by re-summing the per-key doubles —
    that would be summation-order-dependent)."""
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_quantity")
    val = (F.col("l_extendedprice") * F.col("l_quantity")).cast(DEC)
    per = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.sum(val).cast("double").alias("value")
    )
    total = li.agg(F.sum(val).cast("double").alias("total"))
    return (
        per.join(F.broadcast(total))
        .filter(F.col("value") > F.col("total") * 0.0105)
        .select("s_suppkey", "value")
    )


# ---------------------------------------------------------------------------
# Q13 shape: customer order-count distribution (outer join → double groupBy)
# ---------------------------------------------------------------------------
Q13_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
"""


def q_customer_order_distribution(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q13 shape: left outer join with an extra join-side predicate
    (NOT a WHERE — zero-order customers must survive), then a two-level
    aggregate: per-customer count → histogram of counts. Two exchanges
    (custkey, then c_count); the second input is |customers| rows, tiny."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left",
    )
    return (
        joined.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# ---------------------------------------------------------------------------
# Q15 shape: top supplier (equality join against a MAX scalar subquery)
# ---------------------------------------------------------------------------
Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,10)))
      AS VARCHAR) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE epoch(l_shipdate) >= 852076800 AND epoch(l_shipdate) < 859852800
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q_top_supplier(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q15 shape: grouped revenue view joined back against its own MAX
    (scalar subquery → 1-row broadcast). Equality on the decimal-exact double
    is deterministic across engines. The revenue view is computed once and
    reused for both sides (Spark caches nothing here — the subplan is tiny
    and AQE reuses the exchange)."""
    from .registry import _dsum, _ntz_lit

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz_lit("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz_lit("1997-04-01 00:00:00"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _dsum("l_extendedprice * (1D - l_discount)", "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q16 shape: supplier diversity per (brand, type, size) with exclusions
# ---------------------------------------------------------------------------
Q16_ORACLE = """
SELECT
  p.p_brand, p.p_type, p.p_size,
  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type <> 'PROMO'
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
  )
GROUP BY 1, 2, 3
"""


def q_supplier_diversity(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q16 shape: NOT IN → broadcast anti-join (the "complaints"
    exclusion), negated dim filters on the broadcast build, count-distinct
    of the supplier key per 3-key group. The distinct-agg expands to a
    two-phase aggregate; the anti-join side is |suppliers| rows, broadcast."""
    p = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") != "Brand#5") & (F.col("p_type") != "PROMO"))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q17 shape: small-quantity revenue (correlated per-part AVG subquery)
# ---------------------------------------------------------------------------
Q17_ORACLE = """
WITH pa AS (
  SELECT l_partkey,
    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
      / count(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT
  CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
    / 7.0 AS avg_yearly,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pa ON pa.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND l.l_quantity < 0.2 * pa.avg_qty
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q17 shape: correlated AVG-per-part subquery, decorrelated to
    aggregate-then-join (Catalyst's own rewrite). The per-part avg aggregates
    before joining so the fact side joins against |parts| rows (broadcast),
    not a window over the fact; the brand filter prunes the other broadcast
    build."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(pa), li.l_partkey == pa.pa_partkey)
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q19 shape: disjunctive multi-clause predicate join
# ---------------------------------------------------------------------------
Q19_ORACLE = """
SELECT
  CAST(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(38,10)))
    AS VARCHAR) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE
  (p.p_type = 'SMALL' AND p.p_size BETWEEN 1 AND 15
    AND l.l_quantity >= 1.0 AND l.l_quantity <= 20.0)
  OR (p.p_type = 'MEDIUM' AND p.p_size BETWEEN 10 AND 30
    AND l.l_quantity >= 10.0 AND l.l_quantity <= 30.0)
  OR (p.p_type = 'LARGE' AND p.p_size BETWEEN 20 AND 50
    AND l.l_quantity >= 20.0 AND l.l_quantity <= 40.0)
"""


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q19 shape: three OR'd conjunctive clauses spanning both join
    sides. Catalyst extracts the common single-side implications
    (p_type IN (...), l_quantity BETWEEN global min/max) as pushed-down
    pre-filters and evaluates the full disjunction post-join — the plan to
    check in .explain is PushedFilters on BOTH scans plus a post-join
    Filter."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type", "p_size")
    clause = (
        (
            (F.col("p_type") == "SMALL")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1.0, 20.0)
        )
        | (
            (F.col("p_type") == "MEDIUM")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10.0, 30.0)
        )
        | (
            (F.col("p_type") == "LARGE")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20.0, 40.0)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(clause)
        .agg(
            F.sum((F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).cast(DEC))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q20 shape: suppliers with excess shipped volume of a part class
# ---------------------------------------------------------------------------
Q20_ORACLE = """
WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
shipped AS (
  SELECT l_suppkey
  FROM lineitem l JOIN red ON red.p_partkey = l.l_partkey
  WHERE epoch(l.l_shipdate) >= 852076800 AND epoch(l.l_shipdate) < 915148800
  GROUP BY l_suppkey
  HAVING sum(CAST(l_quantity AS DECIMAL(38,10))) > CAST(50.0 AS DECIMAL(38,10))
)
SELECT s.s_suppkey, s.s_name, n.n_name AS nation
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM shipped)
"""


def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — parts by name LIKE →
    qualifying shipped volume per supplier (grouped HAVING) → IN → left-semi
    against the supplier dim. The HAVING output is a handful of supplier
    keys → broadcast semi-join; no shuffle on the dim side."""
    from .registry import _ntz_lit

    red = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz_lit("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz_lit("1999-01-01 00:00:00"))
    )
    shipped = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("sq"))
        .filter(F.col("sq") > F.lit(50.0).cast(DEC))
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(shipped), s.s_suppkey == shipped.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


# ---------------------------------------------------------------------------
# Q21 shape: sole-blame suppliers (EXISTS + NOT EXISTS self-joins)
# ---------------------------------------------------------------------------
Q21_ORACLE = """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


def q_sole_blame_suppliers(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q21 shape: the hardest subquery pattern — EXISTS (another
    supplier touched the order) AND NOT EXISTS (another supplier also
    failed). Both become self-joins on l_orderkey with a non-equi suppkey
    disequality: left-semi then left-anti. All three lineitem legs shuffle on
    l_orderkey — co-partitioned, so AQE plans them as back-to-back
    sort-merge/hash joins on one exchange family."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").alias("l3")
    s = _t(spark, sf_dir, "supplier")

    cand = (
        l1.join(o, F.col("l1.l_orderkey") == o.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        cand.join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q22 shape: idle wealthy customers (global scalar AVG + NOT EXISTS)
# ---------------------------------------------------------------------------
Q22_ORACLE = """
WITH avgbal AS (
  SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
    / count(*) AS a
  FROM customer WHERE c_acctbal > 0.0
)
SELECT
  CAST(c.c_nationkey % 5 AS BIGINT) AS cntrycode,
  CAST(count(*) AS BIGINT) AS numcust,
  CAST(CAST(sum(CAST(c.c_acctbal AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS totacctbal
FROM customer c, avgbal
WHERE c.c_nationkey % 5 IN (0, 1, 2)
  AND c.c_acctbal > avgbal.a
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
  )
GROUP BY 1
"""


def q_idle_wealthy_customers(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q22 shape: global scalar AVG subquery (1-row broadcast) gating a
    NOT EXISTS anti-join (customers with no URGENT order — the fixture has an
    order for every customer, so the classic "no orders at all" form is
    structurally empty), grouped output. The anti-join probe filter pushes to
    the orders scan and projects only o_custkey — at 100 TB the shuffled
    payload is one bigint per qualifying order; the scalar avg is
    decimal-exact so the > comparison matches the oracle bit-for-bit."""
    c = _t(spark, sf_dir, "customer")
    avgbal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("a")
        )
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    code = (F.col("c_nationkey") % 5).cast("long")
    return (
        c.filter(code.isin(0, 1, 2))
        .join(F.broadcast(avgbal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(code.alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q2 shape: minimum-cost supplier per part in a region (correlated MIN)
# ---------------------------------------------------------------------------
Q2_ORACLE = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS ps_supplycost
  FROM lineitem GROUP BY 1, 2
),
eps AS (
  SELECT ps.*, s.s_name, s.s_acctbal, n.n_name
  FROM ps
  JOIN supplier s ON s.s_suppkey = ps.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
)
SELECT eps.s_acctbal, eps.s_name, eps.n_name,
       p.p_partkey, p.p_name, eps.ps_supplycost
FROM eps
JOIN part p ON p.p_partkey = eps.l_partkey
JOIN (SELECT l_partkey, min(ps_supplycost) AS min_cost FROM eps GROUP BY 1) m
  ON m.l_partkey = eps.l_partkey AND eps.ps_supplycost = m.min_cost
WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
ORDER BY eps.s_acctbal DESC, eps.n_name, eps.s_name, p.p_partkey
LIMIT 100
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier(s) in a region
    offering the minimum supply cost — the classic correlated-MIN subquery,
    decorrelated to aggregate-then-rejoin (Catalyst's own rewrite of the
    scalar subquery).

    Fixture adaptation (no partsupp table): the part-supplier offer relation
    is derived from lineitem as min(l_extendedprice) per (l_partkey,
    l_suppkey). MIN is a *selection* (no arithmetic), so the equality join on
    the cost value is exact across engines.

    Scale plan: one shuffle builds the derived partsupp (map-side partial
    min); region-filtered supplier⋈nation⋈region is dim-sized → broadcast to
    the offers; the per-part MIN aggregates (shuffle on partkey, partial agg)
    and rejoins on the SAME partkey partitioning (AQE reuses the exchange);
    part filters prune its broadcast build. ORDER BY … LIMIT 100 →
    TakeOrderedAndProject (no global sort). Reference parity: relational
    completeness beyond the reference's constant-map joins (SURVEY.md §2.6).
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("ps_supplycost")
    )
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eps = ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
    minc = eps.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_name")
    )
    return (
        eps.join(
            minc,
            (eps.l_partkey == minc.m_partkey)
            & (eps.ps_supplycost == minc.min_cost),
        )
        .join(F.broadcast(p), eps.l_partkey == p.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "ps_supplycost"
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )
