"""Count the classes Janino compiles for each registered query's warm calls.

Usage:
    SPARK_GRAFT_SF_DIR=<fixture dir> python tools/codegen_budget.py \
        [--queries a,b,...] [--rotations 3]

Runs each named query (all registered ones by default) over the fixture
tables in $SPARK_GRAFT_SF_DIR as a ``noop`` write, all of them in turn, for
``--rotations`` rotations in one session. For each query and rotation it
prints the classes compiled and the Janino ms (``monitor.codegen_counters``
deltas), then the working set (the classes rotation 1 compiled) and the
queries that still compile in the last rotation.

A compile in a later rotation is a miss of Spark's JVM-wide codegen class
cache: either the cache is smaller than the working set (so the rotation
evicts what it needs next), or the query generates different code on every
call (a per-call literal in the plan, say).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from futures_eos_cdc_spark.plans import QUERIES  # noqa: E402
from futures_eos_cdc_spark.session import get_spark  # noqa: E402
from futures_eos_cdc_spark.streaming.monitor import codegen_counters  # noqa: E402


def warm_call(spark, name: str, sf_dir: str) -> tuple[int, int]:
    """(classes compiled, Janino ms) of one ``noop`` write of query ``name``."""
    before = codegen_counters()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    after = codegen_counters()
    return (after["codegen.compiles"] - before["codegen.compiles"],
            after["codegen.compile_ms"] - before["codegen.compile_ms"])


def rotations(spark, names, sf_dir: str, n: int) -> list[dict[str, tuple[int, int]]]:
    """Per rotation, ``warm_call`` of each query in ``names`` in order, for
    ``n`` rotations in one session."""
    return [{name: warm_call(spark, name, sf_dir) for name in names} for _ in range(n)]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--queries", help="comma-separated query names (default: all)")
    ap.add_argument("--rotations", type=int, default=3)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or args.rotations < 1:
        print(__doc__, file=sys.stderr)
        return 2
    names = args.queries.split(",") if args.queries else sorted(QUERIES)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    spark = get_spark(
        "codegen-budget",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    print("codegen cache entries:", spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    rots = rotations(spark, names, sf_dir, args.rotations)
    cols = "".join(f" {f'r{i + 1} n':>6} {f'r{i + 1} ms':>7}" for i in range(len(rots)))
    print(f"{'query':<40}{cols}")
    for name in names:
        cells = "".join(f" {r[name][0]:>6} {r[name][1]:>7}" for r in rots)
        print(f"{name:<40}{cells}")
    totals = "".join(
        f" {sum(c for c, _ in r.values()):>6} {sum(m for _, m in r.values()):>7}"
        for r in rots)
    print(f"{'total (' + str(len(names)) + ' queries)':<40}{totals}")
    print("working set (rotation-1 compiles):", sum(c for c, _ in rots[0].values()))
    still = {n: c for n, (c, _) in rots[-1].items() if c}
    print(f"still compiling in rotation {len(rots)}:",
          ", ".join(f"{n} {c}" for n, c in sorted(still.items())) or "none")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
