"""General relational operator surface: window functions, top-k per group,
rollup, pivot, set ops, semi/anti joins, distinct aggregates, sessionization,
as-of join (SURVEY.md §2.5-§2.8 + free-from-Spark capabilities).

Registered via plans.registry.query() at import time (see registry bottom).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.signal_pipeline import DEC

# ---------------------------------------------------------------------------
# §2.7 window functions: row_number / lag / lead / running sum
# ---------------------------------------------------------------------------
WINDOW_FUNCS_ORACLE = """
SELECT
  l_orderkey,
  l_linenumber,
  l_quantity,
  CAST(row_number() OVER w AS BIGINT) AS rn,
  lag(l_quantity) OVER w AS prev_qty,
  lead(l_quantity) OVER w AS next_qty,
  sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
FROM lineitem
WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity)
"""


def q_window_functions(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Per-order running analytics. One exchange on l_orderkey serves all four
    window functions (same partitioning + ordering → single Window node).
    Running float sums accumulate in frame order — deterministic.

    (l_orderkey, l_linenumber) is NOT unique in the fixture, so l_quantity
    joins the ordering; remaining ties are output-indistinguishable rows."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_quantity")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.lag("l_quantity").over(w).alias("prev_qty"),
        F.lead("l_quantity").over(w).alias("next_qty"),
        F.sum("l_quantity").over(wr).alias("running_qty"),
    )


# ---------------------------------------------------------------------------
# §2.8 O2/O3 batch form: top-k per group with deterministic tie-break
# ---------------------------------------------------------------------------
TOPK_ORACLE = """
SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY l_suppkey
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
  FROM lineitem)
WHERE rk <= 3
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Top-3 lineitems per supplier by price. At scale: one exchange on
    l_suppkey; Spark pushes a per-partition rank limit (WindowGroupLimit)
    before the shuffle, so the exchange carries ≤k rows per key."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "rk")
    )


# ---------------------------------------------------------------------------
# rollup (grouping sets) — free-from-Spark surface
# ---------------------------------------------------------------------------
ROLLUP_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q_rollup(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Hierarchical subtotals. Catalyst expands the rollup into grouping sets
    over ONE shuffle (Expand node) — not one pass per level."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# pivot
# ---------------------------------------------------------------------------
PIVOT_ORACLE = """
SELECT
  l_returnflag,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) FILTER (WHERE l_linestatus = 'O')
    AS VARCHAR) AS DOUBLE) AS "O",
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) FILTER (WHERE l_linestatus = 'F')
    AS VARCHAR) AS DOUBLE) AS "F"
FROM lineitem
GROUP BY l_returnflag
"""


def q_pivot(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Pivot with explicit value list (no extra distinct-values job —
    important at scale: an implicit pivot first scans for distinct keys)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double"))
    )


# ---------------------------------------------------------------------------
# §2.5 set operations: union / intersect / except
# ---------------------------------------------------------------------------
SET_OPS_ORACLE = """
SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
UNION ALL
SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
UNION ALL
SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION
  SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
"""


def q_set_ops(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """INTERSECT / EXCEPT / UNION-distinct (U1 + the free set-op surface)."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    rows = [
        urgent.intersect(high).select(
            F.lit("intersect").alias("op"), F.lit(1).alias("one")
        ),
        urgent.subtract(high).select(  # subtract == EXCEPT DISTINCT
            F.lit("except").alias("op"), F.lit(1).alias("one")
        ),
        urgent.union(high).distinct().select(
            F.lit("union").alias("op"), F.lit(1).alias("one")
        ),
    ]
    unioned = rows[0].unionByName(rows[1]).unionByName(rows[2])
    return unioned.groupBy("op").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# §2.6 semi/anti joins
# ---------------------------------------------------------------------------
ANTI_JOIN_ORACLE = """
SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY 1
"""


def q_anti_join(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Customers with no URGENT orders, per nation: left_anti (NOT EXISTS) +
    a broadcast dim join. The anti join shuffles on custkey only, and the
    priority filter is pushed into the orders scan."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# distinct aggregates
# ---------------------------------------------------------------------------
DISTINCT_AGG_ORACLE = """
SELECT
  o_orderstatus,
  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
  CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderstatus
"""


def q_distinct_agg(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Multi-distinct aggregate: Catalyst expands to a single Expand-based
    plan. At 100 TB prefer approx_count_distinct (exposed by the engine; not
    oracle-comparable bit-for-bit, so checked by dedicated tests instead)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct(F.col("o_custkey")).alias("n_custs"),
        F.count_distinct(F.col("o_orderpriority")).alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Sessionization (batch form of the streaming session_window)
# ---------------------------------------------------------------------------
SESSIONIZE_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
s AS (
  SELECT user_id, ts_us,
    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM e
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(min(ts_us) // 1000000 AS BIGINT) AS session_start_s,
  CAST((max(ts_us) - min(ts_us)) // 1000000 AS BIGINT) AS duration_s
FROM s
GROUP BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Gap-based sessionization (1h gap): lag + cumulative-sum session ids,
    all integer arithmetic on epoch-micros. One exchange on user_id serves
    both window functions and the final aggregate."""
    ev = _t(spark, sf_dir, "events")
    gap_us = 3600 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wr = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    e = ev.select("user_id", F.expr("ts div 1000").alias("ts_us"), "event_id").withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > gap_us),
            1,
        ).otherwise(0),
    )
    s = e.withColumn("session_id", F.sum("is_new").over(wr))
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("min(ts_us) div 1000000").alias("session_start_s"),
        F.expr("(max(ts_us) - min(ts_us)) div 1000000").alias("duration_s"),
    )


# ---------------------------------------------------------------------------
# As-of join (Spark lacks a native one — composed from union + last())
# ---------------------------------------------------------------------------
ASOF_ORACLE = """
SELECT e.user_id, e.event_id, e.ts_us, p.value AS last_purchase_value
FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS p_ts_us, value
                FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts_us >= p.p_ts_us
"""


CUBE_ORACLE = """
SELECT
  o_orderpriority,
  o_orderstatus,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def q_cube(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """CUBE over (priority, status): all 4 grouping sets in one pass.
    Catalyst expands the cube with an Expand node before ONE hash aggregate —
    rows are replicated 4x map-side, but there is still a single exchange."""
    from .registry import _dsum

    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum("o_totalprice", "revenue"),
    )


SLIDING_ORACLE = """
WITH s AS (
  SELECT event_type, epoch_us(ts) AS ts_us FROM events
),
w AS (
  SELECT event_type, ts_us,
    unnest([ (ts_us // 300000000) * 300 - 300, (ts_us // 300000000) * 300 ])
      AS window_start_s
  FROM s
)
SELECT
  CAST(window_start_s AS BIGINT) AS window_start_s,
  event_type,
  CAST(count(*) AS BIGINT) AS n_events
FROM w
WHERE window_start_s >= 0
GROUP BY 1, 2
"""


def q_sliding_window(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """10-minute windows sliding every 5: each row lands in exactly 2 windows.
    Expressed as integer bucket arithmetic + explode (bit-identical to the
    oracle and to Spark's own window(col, '10 minutes', '5 minutes'), which
    plans the same Expand + aggregate shape)."""
    ev = _t(spark, sf_dir, "events")
    five_min = F.expr("(ts div 1000 div 300000000) * 300")
    return (
        ev.select(
            "event_type",
            F.explode(
                F.array(five_min - 300, five_min)
            ).alias("window_start_s"),
        )
        .filter(F.col("window_start_s") >= 0)
        .groupBy(F.col("window_start_s").cast("long").alias("window_start_s"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def q_asof_join(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """As-of join: each error event picks the most recent purchase value of
    the same user at-or-before it.

    Implemented the scalable way — union the two tagged streams, ONE exchange
    on user_id, last(ignorenulls) over the time ordering — instead of a
    pairwise range join (which explodes at 100 TB). Equal timestamps order
    the purchase first (tag 0), matching ASOF's >= semantics.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("ts_us"), "event_id", "event_type", "value"
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts_us",
        F.lit(0).alias("tag"),
        F.col("value").alias("p_value"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts_us",
        F.lit(1).alias("tag"),
        F.lit(None).cast("double").alias("p_value"),
        "event_id",
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = p.unionByName(e).withColumn(
        "last_purchase_value", F.last("p_value", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("tag") == 1).select(
        "user_id", "event_id", "ts_us", "last_purchase_value"
    )


# ---------------------------------------------------------------------------
# Exact interpolated percentiles (distribution reporting)
# ---------------------------------------------------------------------------
PERCENTILES_ORACLE = """
SELECT o_orderpriority,
  quantile_cont(o_totalprice, 0.5) AS p50,
  quantile_cont(o_totalprice, 0.9) AS p90,
  quantile_cont(o_totalprice, 0.99) AS p99,
  CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY 1
"""


def q_percentiles(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Exact linearly-interpolated percentiles per group (Spark `percentile`
    == DuckDB `quantile_cont`, verified bit-exact — both use the
    (n-1)*p rank with linear interpolation). Exact percentile buffers each
    group's values on the reducer: fine for bounded groups like priority
    tiers; for high-cardinality keys at 100 TB switch to
    `approx_percentile(..., accuracy)` (t-digest-style sketch, map-side
    combinable) — the engine exposes both, this query pins the exact one
    to the oracle."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").alias("_p"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "o_orderpriority",
        F.col("_p")[0].alias("p50"),
        F.col("_p")[1].alias("p90"),
        F.col("_p")[2].alias("p99"),
        "n",
    )


# ---------------------------------------------------------------------------
# GROUPING SETS (beyond rollup/cube: arbitrary grouping combinations)
# ---------------------------------------------------------------------------
GROUPING_SETS_ORACLE = """
SELECT o_orderpriority, o_orderstatus,
  CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
    AS revenue,
  CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Arbitrary GROUPING SETS (not expressible as one rollup/cube): per
    priority, per status, and grand total in ONE pass. Catalyst expands the
    sets via Expand (3x row replication pre-aggregation) — one scan + one
    exchange instead of three separate queries. gid disambiguates which
    set each row came from (NULL dimension values are genuine NULLs)."""
    from ..sqlutil import sql_over_views

    o = _t(spark, sf_dir, "orders")
    return sql_over_views(
        lambda v: f"""
        SELECT o_orderpriority, o_orderstatus,
          CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT)
            AS gid,
          CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS revenue,
          count(*) AS n
        FROM {v['orders']}
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """,
        orders=o,
    )


# ---------------------------------------------------------------------------
# Range join (time-interval): clicks within 30 min before each purchase
# ---------------------------------------------------------------------------
RANGE_JOIN_ORACLE = """
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS p_us FROM events
  WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_us(ts) AS c_us, value FROM events
  WHERE event_type = 'click'
)
SELECT p.event_id AS purchase_id,
  CAST(count(c.c_us) AS BIGINT) AS n_clicks,
  CAST(CAST(sum(CAST(c.value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
    AS click_value
FROM p LEFT JOIN c
  ON p.user_id = c.user_id
  AND c.c_us >= p.p_us - 1800000000
  AND c.c_us < p.p_us
GROUP BY 1
"""


def q_range_join(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Interval range join — attribution's core shape (events within a
    window before a conversion). A naive (user, time-range) theta-join
    degenerates to a per-user cross product; this plan BINS both sides to
    30-min buckets first: each click lands in bins {b, b+1} (the only bins
    whose purchases can see it), so the join is EQUI on (user_id, bin) and
    Catalyst plans a hash join — the residual range predicate filters
    within-bin. Bin width == window width bounds the false-candidate factor
    at 2x. The left join keeps zero-click purchases (count(c) = 0)."""
    from .registry import _dsum

    ev = _t(spark, sf_dir, "events")
    width_us = 30 * 60 * 1_000_000
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.expr("ts div 1000").alias("p_us"),
    ).withColumn("bin", (F.col("p_us") / width_us).cast("long"))
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.expr("ts div 1000").alias("c_us"),
            "value",
        )
        .withColumn("bin", F.explode(F.array(
            (F.col("c_us") / width_us).cast("long"),
            (F.col("c_us") / width_us).cast("long") + 1,
        )))
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user)
        & (p.bin == c.bin)
        & (c.c_us >= p.p_us - width_us)
        & (c.c_us < p.p_us),
        "left",
    )
    return joined.groupBy("purchase_id").agg(
        F.count(F.col("c_us")).alias("n_clicks"),
        _dsum("value", "click_value"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified per-group sample (top-n by content-stable order)
# ---------------------------------------------------------------------------
STRATIFIED_SAMPLE_ORACLE = """
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
    row_number() OVER (PARTITION BY lang ORDER BY md5('strat|' ||
      CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 20
"""


def q_stratified_sample(
    spark: SparkSession, sf_dir: str, _t, lang_source: str = "column"
) -> DataFrame:
    """Exactly-n-per-stratum sampling with a content-stable order: rank each
    stratum by md5(salt|id) — a deterministic proxy for 'random' that every
    engine reproduces — and keep the first n. WindowGroupLimit pushes the
    n-cap below the exchange, so each reducer materializes at most n rows
    per stratum (not the whole group sorted). The append-safe alternative
    for ratio (not count) sampling is operators/sampling.py.

    ``lang_source="derived"`` strata on the language-ID classifier's
    prediction (operators/langid.py) instead of the metadata column — the
    configuration a real pipeline runs, where lang is not trustworthy
    upstream metadata (VERDICT r10 next #2). Derivation is a pure
    projection, so the plan shape (one lang-keyed exchange with the
    group-limit below it) is unchanged."""
    d = _t(spark, sf_dir, "documents")
    if lang_source == "derived":
        from ..operators.langid import with_derived_lang
        from .dataprep import _langid_model_cached

        model = _langid_model_cached(
            spark,
            sf_dir,
            d.filter(F.col("text").isNotNull() & (F.length("text") > 0)),
        )
        d = with_derived_lang(d, model)
    elif lang_source != "column":
        raise ValueError(f"lang_source must be 'column' or 'derived', got {lang_source!r}")
    from pyspark.sql import Window

    key = F.md5(F.concat(F.lit("strat|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(key, F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang", "n_chars", F.col("rn").cast("long").alias("rn"))
    )


# ---------------------------------------------------------------------------
# Equi-width histogram (width_bucket)
# ---------------------------------------------------------------------------
# DuckDB has no width_bucket — the oracle restates Spark's exact arithmetic:
# floor((v - min) / ((max - min) / n)) + 1, clamped to 0 / n+1 outside.
HISTOGRAM_ORACLE = """
SELECT
  CAST(CASE WHEN o_totalprice < 0.0 THEN 0
            WHEN o_totalprice >= 600000.0 THEN 25
            ELSE floor((o_totalprice - 0.0) / ((600000.0 - 0.0) / 24)) + 1
       END AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
    AS total
FROM orders
GROUP BY 1
"""


def q_histogram(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Distribution histogram in one aggregation: width_bucket is a pure
    projection (no per-group sort, no percentile buffer), so the plan is a
    partial-aggregated groupBy on a small integer key — the shape to prefer
    over exact percentiles when only the distribution's shape is needed at
    100 TB."""
    from .registry import _dsum

    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket",
            F.width_bucket(F.col("o_totalprice"), F.lit(0.0), F.lit(600000.0), F.lit(24)),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("o_totalprice", "total"),
        )
    )


# ---------------------------------------------------------------------------
# Frame-based window aggregates: bounded ROWS frame, value RANGE frame,
# ntile / percent_rank / cume_dist (the window surface beyond
# q_window_functions' unbounded running forms)
# ---------------------------------------------------------------------------
MOVING_AGG_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
    CAST(epoch(o_orderdate) AS BIGINT) AS ts_s, o_totalprice
  FROM orders
)
SELECT o_custkey, o_orderkey, ts_s, o_totalprice,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) OVER w3 AS VARCHAR) AS DOUBLE)
    AS mov_sum_3,
  CAST(ntile(4) OVER wo AS BIGINT) AS quartile,
  percent_rank() OVER wo AS pct_rank,
  cume_dist() OVER wo AS cume_d,
  CAST(count(*) OVER wr AS BIGINT) AS n_last_30d
FROM o
WINDOW
  wo AS (PARTITION BY o_custkey ORDER BY ts_s, o_orderkey),
  w3 AS (PARTITION BY o_custkey ORDER BY ts_s, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
  wr AS (PARTITION BY o_custkey ORDER BY ts_s
         RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
"""


def q_moving_aggregates(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """Moving/frame window aggregates per customer order history: 3-order
    moving sum (bounded ROWS frame), order quartile (ntile), percent_rank /
    cume_dist, and a 30-day trailing order count (value RANGE frame over
    epoch seconds).

    One exchange on o_custkey serves every function; the (ts_s, o_orderkey)
    sort satisfies the RANGE window's (ts_s) prefix ordering, so there is no
    second sort. The moving sum goes through DECIMAL(38,10) so the 3-element
    frame sum is exact (hash-stable vs the oracle); percent_rank/cume_dist
    are single IEEE divisions of exact integer ranks. Scale: windows stream
    per partition with O(frame) state — nothing materializes a group.
    """
    from .registry import _ntz_epoch_s

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        _ntz_epoch_s("o_orderdate").alias("ts_s"),
        "o_totalprice",
    )
    wo = Window.partitionBy("o_custkey").orderBy("ts_s", "o_orderkey")
    w3 = wo.rowsBetween(-2, Window.currentRow)
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy("ts_s")
        .rangeBetween(-2592000, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "ts_s",
        "o_totalprice",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w3).cast("double").alias("mov_sum_3"),
        F.ntile(4).over(wo).cast("long").alias("quartile"),
        F.percent_rank().over(wo).alias("pct_rank"),
        F.cume_dist().over(wo).alias("cume_d"),
        F.count(F.lit(1)).over(wr).cast("long").alias("n_last_30d"),
    )


# ---------------------------------------------------------------------------
# FULL OUTER join: two-sided reconciliation (the join type the rest of the
# suite doesn't exercise — semi/anti/inner/left are covered elsewhere)
# ---------------------------------------------------------------------------
FULL_OUTER_ORACLE = """
WITH wealthy AS (
  SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000.0
),
open_orders AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_open
  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
)
SELECT
  coalesce(w.c_custkey, o.o_custkey) AS custkey,
  w.c_acctbal,
  coalesce(o.n_open, 0) AS n_open,
  CASE WHEN w.c_custkey IS NULL THEN 'orders_only'
       WHEN o.o_custkey IS NULL THEN 'customer_only'
       ELSE 'both' END AS presence
FROM wealthy w FULL OUTER JOIN open_orders o ON w.c_custkey = o.o_custkey
"""


def q_full_outer_reconciliation(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """FULL OUTER reconciliation of two derived sets (wealthy customers vs
    customers with open orders): rows surviving on either side, null-filled
    on the other, tagged by presence.

    Scale shape: full-outer cannot broadcast (both sides must see unmatched
    rows), so this is the one deliberately shuffle-both-sides join in the
    suite — a sort-merge join on the key with the aggregate pre-reducing
    the orders side before the exchange (partial agg → |customers| rows,
    not |orders|).
    """
    w = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000.0)
        .select("c_custkey", "c_acctbal")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_open"))
    )
    joined = w.join(o, w.c_custkey == o.o_custkey, "full_outer")
    return joined.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_acctbal",
        F.coalesce("n_open", F.lit(0)).cast("long").alias("n_open"),
        F.when(F.col("c_custkey").isNull(), "orders_only")
        .when(F.col("o_custkey").isNull(), "customer_only")
        .otherwise("both")
        .alias("presence"),
    )


# ---------------------------------------------------------------------------
# Skew-salted aggregation surfaced as a checked query: the two-stage plan
# must produce results identical to the plain aggregate
# ---------------------------------------------------------------------------
SKEW_SALTED_ORACLE = """
SELECT l_returnflag,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
  min(l_extendedprice) AS min_price,
  max(l_extendedprice) AS max_price
FROM lineitem GROUP BY 1
"""


def q_skew_salted_aggregate(spark: SparkSession, sf_dir: str, _t) -> DataFrame:
    """The hot-key mitigation (operators.skew.salted_aggregate) as an
    oracle-checked query: group lineitem by the 3-value l_returnflag — a
    deliberately skewed key where every group is hot — through the
    two-stage salted plan (stage 1 spreads each key over 16 salts, stage 2
    merges ≤16 partials per key). Results must be identical to the plain
    single-stage aggregate, which the oracle is.

    All four algebraic ops ride along with hash-exact types: count and a
    BIGINT sum (integer-exact through any partial order), min/max (order-
    free selections). Scale: the first shuffle carries (key, salt) groups —
    1000 reducers stay busy on a 3-key groupBy instead of 3.
    """
    from ..operators.skew import salted_aggregate

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_extendedprice"
    )
    return salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "n": ("*", "count"),
            "sum_okey": ("l_orderkey", "sum"),
            "min_price": ("l_extendedprice", "min"),
            "max_price": ("l_extendedprice", "max"),
        },
    )
