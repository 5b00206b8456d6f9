"""Order pipeline: trading decisions → orders + outbox events → CDC routing.

Re-expresses the reference's order-manager consumer and the Debezium outbox
leg (SURVEY.md §2.2 P7-P16, §2.1 S5-S8):

- P7  actionable filter        — OrderService.kt:116
- P8  confidence gate w/ STRONG×1.2 boost — OrderService.kt:117-127
- P9  action → side CASE       — OrderService.kt:145-149
- P11 market-price dim lookup, default 100.0 — OrderService.kt:42-47,139-142
- P12 confidence-scaled quantity [1,10], 2dp — OrderService.kt:190-199
- P13 client_order_id synthesis — OrderService.kt:133
- P14 outbox JSON payload       — OrderService.kt:162-172
- P15 occurred_at_ms generated column — configmap-init.yaml:42-44
- S8  outbox EventRouter (Debezium SMT) as a pure projection
      — pg-outbox-connector.yaml:31-53
- S7a Debezium envelope parser — the CDC-topic fidelity path

Determinism (§7.4.3): in deterministic mode ids are sha256 of the business
key and clocks derive from the decision window — no uuid()/now(), so results
are oracle-checkable. Production mode (deterministic=False) switches to
uuid() + current_timestamp() like the reference.

Scale: every step is a narrow projection/filter plus ONE broadcast join
against the 4-row price dim — zero shuffles end-to-end; at 100 TB the
pipeline inherits the decision stream's partitioning untouched. The dim is a
local relation (``LocalTableScan``), so broadcasting it needs no RDD scan,
a cost a streaming sink would otherwise pay every micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import DEFAULT_MARKET_PRICE, MARKET_PRICES

ACTIONABLE = ("BUY", "SELL", "STRONG_BUY", "STRONG_SELL")
DEFAULT_CONFIDENCE_THRESHOLD = 0.65  # ORDER_CONFIDENCE_THRESHOLD default
QTY_BASE, QTY_MAX = 1.0, 10.0

DEBEZIUM_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField(
            "payload",
            T.StructType(
                [
                    T.StructField("before", T.MapType(T.StringType(), T.StringType())),
                    T.StructField("after", T.MapType(T.StringType(), T.StringType())),
                    T.StructField("op", T.StringType()),
                    T.StructField("ts_ms", T.LongType()),
                    T.StructField(
                        "source",
                        T.StructType(
                            [
                                T.StructField("table", T.StringType()),
                                T.StructField("lsn", T.LongType()),
                            ]
                        ),
                    ),
                ]
            ),
        )
    ]
)


def market_prices_df(spark) -> DataFrame:
    """P11's (symbol, price) dim as a local relation: it plans as
    ``LocalTableScan``, where a Python-list ``createDataFrame`` plans as an
    RDD scan that costs a parallelize job plus an RDD-backed broadcast on
    every use."""
    rows = ", ".join(f"('{k}', {float(v)!r}D)" for k, v in MARKET_PRICES.items())
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(symbol, price)")


def filter_actionable(decisions: DataFrame, threshold: float = DEFAULT_CONFIDENCE_THRESHOLD) -> DataFrame:
    """P7 + P8: actionable actions whose boosted confidence clears the gate."""
    adj = F.when(
        F.col("action").startswith("STRONG"), F.col("confidence") * 1.2
    ).otherwise(F.col("confidence"))
    return (
        decisions.filter(F.col("action").isin(*ACTIONABLE))
        .withColumn("adj_confidence", adj)
        .filter(F.col("adj_confidence") >= F.lit(threshold))
    )


def confidence_scaled_qty(conf_col, threshold: float = DEFAULT_CONFIDENCE_THRESHOLD):
    """P12: qty = base + (max-base) * clamp((conf-thr)/(1-thr), 0, 1), 2dp."""
    frac = (conf_col - threshold) / (1.0 - threshold)
    clamped = F.least(F.lit(1.0), F.greatest(F.lit(0.0), frac))
    return F.round(F.lit(QTY_BASE) + (QTY_MAX - QTY_BASE) * clamped, 2)


def decisions_to_orders(
    decisions: DataFrame,
    prices: DataFrame,
    threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
    deterministic: bool = True,
) -> DataFrame:
    """Decisions → order rows (the reference's createOrder, OrderService.kt:131-188).

    ``decisions`` needs: symbol, window_start_s, action, confidence.
    ``prices`` is the (symbol, price) dim — broadcast.
    """
    # One spark.sql parse over two temp views — the same plan the Column-API
    # construction produced (filter → project → broadcast left join), at a
    # fraction of the py4j construction cost. Double literals that the old
    # code pre-computed in Python (1.0 - threshold, QTY_MAX - QTY_BASE) are
    # inlined with repr() so the IEEE values are bit-identical.
    from ..sqlutil import sql_over_views

    actionable = ", ".join(f"'{a}'" for a in ACTIONABLE)
    if deterministic:
        order_id = "sha2(concat_ws('|', symbol, window_start_s), 256)"
        created_at_s = "CAST(window_start_s AS BIGINT)"
    else:
        order_id = "uuid()"
        created_at_s = "unix_timestamp(current_timestamp())"
    # P12 (confidence_scaled_qty): qty = base + span * clamp(frac, 0, 1), 2dp
    frac = f"((adj_confidence - {threshold!r}d) / {(1.0 - threshold)!r}d)"
    qty = (
        f"round({QTY_BASE!r}d + {(QTY_MAX - QTY_BASE)!r}d"
        f" * least(1.0d, greatest(0.0d, {frac})), 2)"
    )
    return sql_over_views(lambda v: f"""
WITH gated AS (
  SELECT *,
    CASE WHEN startswith(action, 'STRONG') THEN confidence * 1.2d
         ELSE confidence END AS adj_confidence
  FROM {v['dec']}
  WHERE action IN ({actionable})
), with_id AS (
  SELECT *, {order_id} AS id, {created_at_s} AS created_at_s
  FROM gated WHERE adj_confidence >= {threshold!r}d
)
SELECT /*+ BROADCAST(p) */
  w.id,
  concat('ORD-', CAST(w.created_at_s * 1000 AS STRING), '-',
         substring(w.id, 1, 8)) AS client_order_id,
  w.symbol,
  CASE WHEN w.action IN ('BUY', 'STRONG_BUY') THEN 'BUY'
       WHEN w.action IN ('SELL', 'STRONG_SELL') THEN 'SELL' END AS side,
  {qty} AS qty,
  coalesce(p.price, {DEFAULT_MARKET_PRICE!r}d) AS price,
  'PENDING' AS status,
  w.created_at_s,
  w.created_at_s AS updated_at_s,
  w.confidence,
  w.adj_confidence
FROM with_id w LEFT JOIN {v['prices']} p ON w.symbol = p.symbol
""", dec=decisions, prices=prices)


def canonical_decimal_sql(x: str, dp: int, int_div: str = "div") -> str:
    """SQL rendering a POSITIVE double as a canonical decimal string with at
    most ``dp`` fractional digits (trailing zeros trimmed, at least one
    digit kept: 1 → '1.0', 0.65 → '0.65').

    The construction uses ONLY IEEE arithmetic (multiply, add, floor) and
    integer/string ops — every engine computes it bit-identically, unlike
    float-to-string printers (Jackson's shortest-roundtrip is JDK-version-
    dependent pre-19 [JDK-4511638]; C printf rounds half-even where Java
    Formatter rounds half-up; DuckDB's double→VARCHAR is its own printer).
    The defined semantics are floor(x·10^dp + 0.5) scaled back — callers
    embed this definition in the wire contract rather than an engine's
    printer. ``int_div`` is the engine's integer-division spelling ('div'
    for Spark SQL, '//' for DuckDB).
    """
    scale = 10**dp
    n = f"CAST(floor(({x}) * {scale} + 0.5) AS BIGINT)"
    frac = f"lpad(CAST({n} % {scale} AS STRING), {dp}, '0')"
    ft = f"trim(TRAILING '0' FROM {frac})"
    return (
        f"(CAST({n} {int_div} {scale} AS STRING) || '.' || "
        f"CASE WHEN {ft} = '' THEN '0' ELSE {ft} END)"
    )


# JSON payload (P14, OrderService.kt:162-172): field order fixed; numeric
# fields use the canonical rendering above at wire-defined precisions
# (qty/price 2dp — their values are constructed at 2dp — confidence 6dp),
# so the payload is reproducible byte-for-byte by ANY engine, not just a
# matching Jackson version. Strings are sha-hex / enums / symbols — no
# escaping needed.
def _payload_sql(int_div: str) -> str:
    return (
        "'{\"orderId\":\"' || id"
        " || '\",\"clientOrderId\":\"' || client_order_id"
        " || '\",\"symbol\":\"' || symbol"
        " || '\",\"side\":\"' || side"
        f" || '\",\"qty\":' || {canonical_decimal_sql('qty', 2, int_div)}"
        f" || ',\"price\":' || {canonical_decimal_sql('price', 2, int_div)}"
        " || ',\"status\":\"' || status"
        f" || '\",\"confidence\":' || {canonical_decimal_sql('confidence', 6, int_div)}"
        " || '}'"
    )


def orders_to_outbox(orders: DataFrame, deterministic: bool = True) -> DataFrame:
    """Orders → outbox event rows with JSON payload (P13-P15, S5 shape).

    Payload mirrors OrderService.kt:162-172: order fields + confidence,
    with the canonical number rendering documented on ``_payload_sql``
    (one F.expr parse — plan-construction-cost rule).
    """
    event_id = (
        "sha2(concat_ws('|', 'outbox', id), 256)" if deterministic else "uuid()"
    )
    return orders.selectExpr(
        f"{event_id} AS event_id",
        "'ORDER' AS aggregate_type",
        "id AS aggregate_id",
        "'ORDER_CREATED' AS type",
        f"{_payload_sql('div')} AS payload",
        "created_at_s AS occurred_at_s",
        "CAST(created_at_s * 1000 AS BIGINT) AS occurred_at_ms",  # P15
    )


def outbox_event_router(outbox: DataFrame) -> DataFrame:
    """S8: the Debezium Outbox EventRouter SMT as a pure projection.

    key ← aggregate_id, value ← payload, topic ← 'trading.' + lower(type
    routing by aggregate_type), headers carried as columns
    (pg-outbox-connector.yaml:31-53).
    """
    return outbox.selectExpr(
        "aggregate_id AS key",
        "payload AS value",
        "concat('trading.', lower(aggregate_type), 's') AS topic",
        "event_id AS header_event_id",
        "type AS header_event_type",
        "occurred_at_ms AS header_occurred_at_ms",
    )


def parse_debezium_envelope(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """S7a: parse a Debezium CDC JSON envelope from a Kafka-shaped DataFrame.

    Tombstones (null value) and delete ops are dropped, mirroring the
    EventRouter's tombstone handling.
    """
    parsed = raw.filter(F.col(value_col).isNotNull()).withColumn(
        "env", F.from_json(F.col(value_col), DEBEZIUM_ENVELOPE_SCHEMA)
    )
    return (
        parsed.filter(F.col("env.payload.after").isNotNull())
        .filter(F.col("env.payload.op").isin("c", "r", "u"))
        .select(
            F.col("env.payload.after").alias("after"),
            F.col("env.payload.op").alias("op"),
            F.col("env.payload.ts_ms").alias("ts_ms"),
        )
    )


def cdc_latest_snapshot(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts_ms",
    op_col: str = "op",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Materialize the current-state snapshot from a CDC change stream:
    latest-wins per key, deletes tombstone the key.

    This is the consumer-side completion of the reference's CDC path — the
    outbox relay publishes row changes (configmap `outbox-connector.yaml`);
    whoever consumes them must reconstruct current state. One window rank
    per key (ordered by change time desc + tiebreakers for same-timestamp
    changes) then drop keys whose last op is delete ('d').

    Scale shape: a single hash exchange on the key; WindowGroupLimit keeps
    only the top row per key on the reducer, so state is O(keys), not
    O(changes). For continuous maintenance use
    ``streaming/outbox.parquet_cdc_merge_writer`` (per-batch merge of the
    same expression).
    """
    order_cols = [F.desc(ts_col)] + [F.desc(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col(op_col) != "d"))
        .drop("_rn")
    )


def cdc_scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts_ms",
    op_col: str = "op",
    tiebreak_cols: list[str] | None = None,
    valid_to_col: str = "valid_to",
    is_current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension Type-2 history from a CDC change stream:
    every change becomes a versioned row with a validity interval.

    Companion to :func:`cdc_latest_snapshot` (same reference CDC path —
    the outbox relay's row-change feed): instead of keeping only the latest
    row per key, each change row gains ``valid_to`` = the NEXT change's
    timestamp for that key (null while still open) and ``is_current`` =
    open AND not a delete. Delete ops close the preceding version's interval
    but emit no version themselves (the key is absent between a delete and a
    subsequent re-insert).

    ``(ts_col, *tiebreak_cols)`` must totally order each key's changes or
    interval boundaries are nondeterministic — same contract as
    ``cdc_latest_snapshot``.

    Scale shape: one hash exchange on the key, then a single streaming
    window pass (``lead`` needs O(1) state per partition, not O(group)) —
    no per-key materialization, no join back. At 100 TB of change log this
    is shuffle-bound on the key exchange only.
    """
    order_cols = [F.asc(ts_col)] + [F.asc(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    valid_to = F.lead(ts_col).over(w)
    return (
        changes.withColumn(valid_to_col, valid_to)
        .withColumn(
            is_current_col,
            F.col(valid_to_col).isNull() & (F.col(op_col) != F.lit("d")),
        )
        .filter(F.col(op_col) != F.lit("d"))
    )
