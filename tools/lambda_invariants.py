"""Scan every registered query for lambda-invariant row expressions.

Usage:
    SPARK_GRAFT_SF_DIR=<fixture dir> python tools/lambda_invariants.py [query ...]

Builds each named query (all when none are named) over the fixture tables in
$SPARK_GRAFT_SF_DIR (the sf0.001 test fixture builds all 138 in ~70 s)
without running it (iterative operators still run their construction jobs)
and prints every query whose analyzed plan has a lambda body that re-reads a
row expression per element (futures_eos_cdc_spark.lambda_guard), with the
offending subexpressions. Exits 1 when any query is flagged or fails to build.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from futures_eos_cdc_spark.lambda_guard import lambda_invariants  # noqa: E402
from futures_eos_cdc_spark.plans import QUERIES  # noqa: E402
from futures_eos_cdc_spark.session import get_spark  # noqa: E402


def main() -> int:
    names = sys.argv[1:] or sorted(QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print(__doc__, file=sys.stderr)
        return 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    spark = get_spark(
        "lambda-invariants",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    t0 = time.perf_counter()
    bad = 0
    for name in names:
        try:
            found = lambda_invariants(QUERIES[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 - report and keep scanning
            found = [f"BUILD FAILED: {type(exc).__name__}: {str(exc)[:200]}"]
        if found:
            bad += 1
            print(f"{name}: {len(found)}", flush=True)
            for f in found:
                print(f"    {f[:200]}", flush=True)
    print(
        f"{bad} of {len(names)} queries flagged ({time.perf_counter() - t0:.0f} s)",
        flush=True,
    )
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
