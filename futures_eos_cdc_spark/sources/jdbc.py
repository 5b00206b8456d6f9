"""S6: the reference's recent-orders query (DatabaseManager.kt:90-121's
query surface) over an orders DataFrame.

Reading the orders table over JDBC is Spark's stock JDBC source
(``spark.read.format("jdbc")``); no JDBC driver jar is bundled, so the
query is tested over the parquet orders shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def recent_orders(orders: DataFrame, n: int = 20) -> DataFrame:
    """S6/O4: SELECT ... ORDER BY created_at DESC LIMIT n
    (DatabaseManager.kt:92-96; justfile:82,86) — Spark plans this as
    TakeOrderedAndProject (per-partition top-n, then merge), never a full
    sort."""
    order_cols = [c for c in ("created_at_s", "created_at") if c in orders.columns]
    return orders.orderBy(F.desc(order_cols[0]), F.desc("id")).limit(n)
