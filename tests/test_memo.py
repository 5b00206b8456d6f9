"""The session-scoped memo (futures_eos_cdc_spark/memo.py): scoping,
eviction and pinning on a private entry table with a stubbed application
id (the shared test session is never stopped), its hit/miss counters in
the monitor, warm-pass reuse on the benchmark's floor queries, and the
guard that keeps applicationId scoping in one module."""

from __future__ import annotations

import gc
import os
import weakref
from collections import OrderedDict

import pytest

from futures_eos_cdc_spark import memo as memo_mod
from futures_eos_cdc_spark.memo import memo

PKG = os.path.dirname(os.path.abspath(memo_mod.__file__))


@pytest.fixture()
def app(monkeypatch):
    """A private memo table whose active application id the test sets."""
    current = {"id": "app-1"}
    monkeypatch.setattr(memo_mod, "_ENTRIES", OrderedDict())
    monkeypatch.setattr(memo_mod, "_COUNTS", {})
    monkeypatch.setattr(memo_mod, "_app_id", lambda: current["id"])
    return current


def _keys() -> list:
    return list(memo_mod._ENTRIES)


def test_miss_purges_other_apps_and_hit_does_not(app):
    memo(("a", 1), lambda: "a1")
    memo(("b", 1), lambda: "b1")
    app["id"] = "app-2"
    assert memo(("a", 1), lambda: "a1 again") == "a1 again"
    assert _keys() == [("app-2", ("a", 1))]
    app["id"] = "app-1"
    memo(("a", 2), lambda: "a2")  # a miss: app-2's entry goes
    assert _keys() == [("app-1", ("a", 2))]


def test_lru_order_and_bound_per_namespace(app, monkeypatch):
    monkeypatch.setattr(memo_mod, "MAX_PER_NAMESPACE", 3)
    for i in range(3):
        memo(("ns", i), lambda i=i: i)
    memo(("other", 0), lambda: "x")
    assert memo(("ns", 0), lambda: "rebuilt") == 0  # hit: 0 becomes newest
    memo(("ns", 3), lambda: 3)  # evicts the least recently used: 1
    assert [k for _a, k in _keys()] == [("ns", 2), ("other", 0), ("ns", 0), ("ns", 3)]
    assert memo(("ns", 1), lambda: "rebuilt") == "rebuilt"


def test_value_is_pinned_across_gc(app):
    class Model:
        pass

    ref = weakref.ref(memo(("model",), Model))
    gc.collect()
    assert ref() is not None
    assert memo(("model",), Model) is ref()


def test_raising_build_stores_nothing(app):
    def boom():
        raise ValueError("no")

    with pytest.raises(ValueError):
        memo(("x",), boom)
    assert _keys() == []
    assert memo(("x",), lambda: 7) == 7


def test_hit_and_miss_counts_reach_the_monitor(app):
    from futures_eos_cdc_spark.streaming.monitor import operator_counters

    memo(("tbl", "a"), lambda: 1)
    memo(("tbl", "a"), lambda: 1)
    memo(("tbl", "b"), lambda: 1)
    got = operator_counters()
    assert got["memo.tbl.misses"] == 2
    assert got["memo.tbl.hits"] == 1


def test_floor_queries_warm_pass_records_no_misses(spark, sf_dir):
    """The four batch_mix floor queries, built and run twice in one
    session: the second pass must be all memo hits (table handles, IVF
    centroids, langid model and candidates), the reuse warm passes rely
    on."""
    from futures_eos_cdc_spark.plans import QUERIES
    from futures_eos_cdc_spark.streaming.monitor import operator_counters

    names = ["signal_decisions", "q1_pricing_summary", "langid_scores", "ann_cosine_ivf"]

    def run_pass() -> dict:
        for name in names:
            assert QUERIES[name](spark, sf_dir).collect()
        return {k: v for k, v in operator_counters().items() if k.startswith("memo.")}

    first = run_pass()
    second = run_pass()
    misses = {k: v - first.get(k, 0) for k, v in second.items() if k.endswith(".misses")}
    hits = {k: v - first.get(k, 0) for k, v in second.items() if k.endswith(".hits")}
    assert not any(misses.values()), misses
    for ns in ("table", "ivf_centroids", "langid_model", "langid.candidates"):
        assert hits.get(f"memo.{ns}.hits", 0) > 0, hits


def test_application_id_is_read_only_by_the_memo():
    """Session scoping is decided in memo.py alone; operators/dedup.py
    keeps a refcount of Spark's plan-equal caches, which is not a value
    memo."""
    allowed = {"memo.py", os.path.join("operators", "dedup.py")}
    readers = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    if "applicationId" in fh.read():
                        readers.append(os.path.relpath(path, PKG))
    assert sorted(readers) == sorted(allowed)
