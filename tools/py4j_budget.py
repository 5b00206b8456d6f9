"""Count the py4j round trips and time each registered query's warm build.

Usage:
    SPARK_GRAFT_SF_DIR=<fixture dir> python tools/py4j_budget.py [--queries a,b,...]

Builds each named query (all registered ones by default) over the fixture
tables in $SPARK_GRAFT_SF_DIR twice without running it: once to warm the
session memo and the JVM, then once counted. For the counted build it prints
the main-thread py4j round trips (``ClientServerConnection.send_command``
calls) and the wall ms, then the totals. Iterative operators still run their
construction jobs, and those jobs' round trips count too.

Only the main thread's calls count: py4j's finalizer thread sends one
``garbage_collect_object`` command per collected Java reference whenever
Python's garbage collector happens to run, so its count differs from build
to build. The main-thread count of a warm build is the same on every run,
which is what lets tests/test_py4j_budget.py pin a ceiling per query.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.clientserver import ClientServerConnection  # noqa: E402

from futures_eos_cdc_spark.plans import QUERIES  # noqa: E402
from futures_eos_cdc_spark.session import get_spark  # noqa: E402


@contextlib.contextmanager
def round_trips():
    """Yield a one-element list that counts main-thread py4j commands sent
    while the block runs."""
    count = [0]
    send = ClientServerConnection.send_command
    main = threading.main_thread()

    def counted(self, command):
        if threading.current_thread() is main:
            count[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield count
    finally:
        ClientServerConnection.send_command = send


def warm_build(spark, name: str, sf_dir: str) -> tuple[int, float]:
    """(main-thread round trips, ms) of the second build of query ``name``."""
    fn = QUERIES[name]
    fn(spark, sf_dir)
    with round_trips() as n:
        t0 = time.perf_counter()
        fn(spark, sf_dir)
        ms = (time.perf_counter() - t0) * 1000.0
    return n[0], ms


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--queries", help="comma-separated query names (default: all)")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print(__doc__, file=sys.stderr)
        return 2
    names = args.queries.split(",") if args.queries else sorted(QUERIES)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    spark = get_spark(
        "py4j-budget",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    total_trips, total_ms = 0, 0.0
    print(f"{'query':<40} {'round_trips':>11} {'build_ms':>9}", flush=True)
    for name in names:
        trips, ms = warm_build(spark, name, sf_dir)
        total_trips += trips
        total_ms += ms
        print(f"{name:<40} {trips:>11} {ms:>9.1f}", flush=True)
    print(f"{'total (' + str(len(names)) + ' queries)':<40} {total_trips:>11} {total_ms:>9.1f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
