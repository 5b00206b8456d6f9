"""Loaders for the driver's deterministic parquet fixtures (TESTDATA.md).

Parquet is the engine's canonical batch source: columnar scan with predicate
pushdown and column pruning for free (check ``PushedFilters`` / ``ReadSchema``
in ``df.explain("formatted")``). At 100 TB these tables would be
partitioned/bucketed on their join keys; here each is a single file — the
loader is where partition discovery would plug in.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, TimestampNTZType

from ..memo import forget, memo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


# Per-session table handles: `spark.read.parquet` pays a JVM file listing +
# footer schema read on EVERY call (~0.1-0.3 s per table), and a query that
# loads 3 tables re-pays it per invocation. A DataFrame is an immutable
# plan, so the handle is reusable (memo.py scopes it to the session). This
# mirrors what a catalog table gives Spark for free (a cached
# InMemoryFileIndex) — and what the DuckDB oracle side already enjoys
# (views created once, outside the timed loop). Caveat, same as catalog
# tables: the file listing is snapshotted — external writers appending
# files need `refresh_tables()`.
def refresh_tables() -> None:
    """Drop every cached table handle (re-list files on next load)."""
    forget("table")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return memo(
        ("table", sf_dir, name), lambda: _load_table_uncached(spark, sf_dir, name)
    )


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.ts arrives as parquet TIMESTAMP(NANOS) in some fixture
    # generations (Spark rejects that by default → nanosAsLong reads it as
    # epoch-nanos) and TIMESTAMP(MICROS) isAdjustedToUTC=false in others
    # (read as TIMESTAMP_NTZ). Normalize both to a LongType of epoch-nanos —
    # the engine's canonical event-time representation (integer,
    # timezone-proof, full precision) — so every downstream `ts div 1000`
    # (→ micros) expression and the DuckDB oracles' `epoch_us(ts)` agree
    # regardless of the fixture's physical type AND of the session timezone
    # (the driver's session config is unknown; an NTZ→TIMESTAMP cast would
    # shift by the session offset, so the NTZ branch uses pure wall-time
    # arithmetic instead).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and not isinstance(df.schema["ts"].dataType, LongType):
        from pyspark.sql import functions as F

        if isinstance(df.schema["ts"].dataType, TimestampNTZType):
            micros = F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
        else:  # instant (isAdjustedToUTC=true): already timezone-free
            micros = F.unix_micros(F.col("ts"))
        df = df.withColumn("ts", micros * F.lit(1000))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
