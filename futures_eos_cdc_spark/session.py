"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configs are chosen so
the same code scales to a multi-executor cluster: AQE on (runtime partition
coalescing + skew-join handling), shuffle partitions sized to cores locally
(on a real cluster this should be ~2-3x total cores or left to AQE), Arrow
enabled for the few Pandas-UDF paths, UTC session timezone so results are
reproducible against external oracles.

Streaming checkpoints go through ``FileSystemBasedCheckpointFileManager``
instead of Spark's default ``FileContext`` manager. Without libhadoop, the
local ``FileContext`` rename forks ``readlink`` four times per file
(``getFileLinkStatus``) — about twenty forked processes per state partition
per trigger, which was most of a micro-batch's state-commit time. The
FileSystem manager renames with ``File.renameTo`` and forks nothing there.
The overwrite guarantee is the same on a local disk: ``FileContext``'s local
rename is itself check-then-rename (Hadoop's ``renameInternal`` handles
overwrite "in a non-atomic way"), and the FileSystem manager checks
``exists`` before it renames, so a second ``createAtomic(path,
overwrite=false)`` of one offset or commit file still fails. Spark's
``ChecksumCheckpointFileManager`` still wraps the chosen manager for state
files, so their checksum files are still written and verified.

PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``,
on by default since 4.0) is off. With it on, every ``functions``/Column call
also records its Python call site in the JVM: extra py4j round trips to set
and clear the origin and to read ``spark.sql.stackTracesInDataFrameContext``,
plus a failed ``import ipykernel`` per call when IPython is installed. That
more than doubled the round trips of a query build (q1_pricing_summary: 517
against 127) and is paid on every build, since queries are rebuilt per
call. Analysis errors still name the unresolved column and the plan; they
only lose the Python line of the failing call. PySpark reads the flag once
per process, on its first wrapped call, so the builder sets it before any.

Spark keeps the classes Janino compiles for generated code in one JVM-wide
LRU cache of ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default.
A warm pass of the six queries the repository benchmark mixes needs 121
classes on its inputs (141 on the sf0.001 fixture), so at the default every
warm call missed the cache and recompiled all of its classes: 1.6 s of
Janino per pass on the fixture, 4 vCPUs. The 138 registered queries, run
in rotation in one session on the fixture, compiled ~2,560 classes in each
warm rotation at the default; their working set is ~1,640 classes. The
builder sizes the cache at 4,096 entries, about 2.5 times that. It stays
bounded because a stream compiles one new class per micro-batch: Spark
inlines the current watermark as a literal into the state-eviction
predicate of a windowed aggregation, so an unbounded cache would grow for
as long as the stream runs. The size is a static conf, read once when the
JVM first generates code, so the builder sets it before any query runs.

Whole-stage generated classes are named without their codegen stage id
(``spark.sql.codegen.useIdInClassName=false``). Adaptive execution numbers
a query's stages in the order it plans them, which varies from call to
call, and the id is part of the generated source, so the same pipeline
under a new id is a new class: with the id in the name, six registered
queries (``q2_min_cost_supplier``, the containment pair, ...) still
recompiled 4-11 classes per warm call with the large cache. Without it,
the registry's third rotation compiled 0-6 classes in three sessions
(adaptive plan variants met late). Plans still print the stage id
(``*(9)``). ``tools/codegen_budget.py`` counts the compiles per query and
rotation.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "futures_eos_cdc_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default tuning."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
