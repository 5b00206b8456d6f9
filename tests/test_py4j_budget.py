"""Plan construction stays cheap: a ceiling on the main-thread py4j round
trips of each batch_mix query's warm build, of the SimHash pair's, of
langid_confidence's and of the two streaming decides' over a file source
(tools/py4j_budget.py's counter).

The count of a warm build is deterministic, so a builder that goes back to
one Column call per element, or a session that turns PySpark's DataFrame
debugging back on, fails here before it shows up as build time. With
debugging on, the six builds below took 4,827 round trips."""

from __future__ import annotations

import importlib.util
import os

import pytest

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "py4j_budget.py"
)

# measured + ~20% headroom
BATCH_MIX = {
    "signal_decisions": 30,
    "q1_pricing_summary": 80,
    "langid_scores": 120,
    "ann_cosine_ivf": 210,
    "ngram_jaccard_near_dup": 650,
    "minhash_lsh_near_dup": 400,
}
# 1,447 and 1,560 while the 16-bit vote was folded one Column call per bit;
# langid_confidence renders langid_scores' scorer (142 while it was built
# one Column call per fold)
QUERY_CEILINGS = {
    **BATCH_MIX,
    "simhash_buckets": 145,
    "simhash_hamming_near_dup": 280,
    "langid_confidence": 120,
}
# the build reads its file source too
STREAMING = {"streaming_decide": 75, "streaming_decide_bounded": 123}
CEILINGS = {**QUERY_CEILINGS, **STREAMING}


def _tool():
    spec = importlib.util.spec_from_file_location("py4j_budget", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def counts(spark, sf_dir, tmp_path_factory):
    from futures_eos_cdc_spark.streaming import pipeline

    tool = _tool()
    out = {name: tool.warm_build(spark, name, sf_dir)[0] for name in QUERY_CEILINGS}
    src = str(tmp_path_factory.mktemp("signals"))
    for name in STREAMING:
        decide = getattr(pipeline, name)
        decide(pipeline.read_signal_stream_files(spark, src))
        with tool.round_trips() as n:
            decide(pipeline.read_signal_stream_files(spark, src))
        out[name] = n[0]
    return out


@pytest.mark.parametrize("name", sorted(CEILINGS))
def test_warm_build_round_trips_under_ceiling(counts, name):
    assert counts[name] <= CEILINGS[name], counts


def test_batch_mix_builds_total_under_1500(counts):
    assert sum(counts[name] for name in BATCH_MIX) <= 1500, counts


def test_counter_counts_only_the_main_thread(spark):
    """Round trips sent from another thread (py4j's finalizer thread sends
    garbage_collect_object whenever Python collects a Java reference) do
    not count."""
    import threading

    tool = _tool()
    with tool.round_trips() as n:
        spark.range(1).columns  # noqa: B018 - one JVM call on this thread
        main = n[0]
        t = threading.Thread(target=lambda: spark.range(1).columns)
        t.start()
        t.join()
    assert main > 0
    assert n[0] == main
