"""Warm query calls reuse compiled classes: the engine session sizes Spark's
JVM-wide codegen class cache (``spark.sql.codegen.cache.maxEntries``) above
the working set of a mixed session, and keeps codegen stage ids out of
generated class names (tools/codegen_budget.py's counter).

At Spark's default of 100 entries, each warm rotation of the six queries
below recompiled all 141 of their classes on the sf0.001 fixture: every
warm call missed the cache. (tests/test_monitor.py checks that the counter
counts.)"""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "codegen_budget.py"
)

# the six queries the repository benchmark's batch_mix workload mixes
BATCH_MIX = [
    "signal_decisions",
    "q1_pricing_summary",
    "langid_scores",
    "ann_cosine_ivf",
    "ngram_jaccard_near_dup",
    "minhash_lsh_near_dup",
]


def _tool():
    spec = importlib.util.spec_from_file_location("codegen_budget", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    # a stage renumbered by adaptive execution must not rename its class
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_batch_mix_third_rotation_compiles_nothing(spark, sf_dir):
    rots = _tool().rotations(spark, BATCH_MIX, sf_dir, 3)
    assert {n: c for n, (c, _) in rots[2].items() if c} == {}, rots
