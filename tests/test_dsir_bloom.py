"""Targeted tests for the round-10 data-selection operators: DSIR
importance resampling (operators/dsir.py) and the Bloom-filter admission
gate (operators/bloom.py). Oracle parity for the registered queries is
covered by test_oracle_parity; these pin the SEMANTICS the oracle can't
state — DSIR pulls target-like documents forward, the Bloom filter never
produces a false negative and its false positives are exactly the
(positives - true dups) remainder."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from futures_eos_cdc_spark.operators.bloom import bloom_gate
from futures_eos_cdc_spark.operators.dsir import (
    DSIR_BUCKETS,
    bucket_expr,
    dsir_sample,
    grams_expr,
)
from futures_eos_cdc_spark.operators.text import tokens_expr


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ---------------------------------------------------------------------------
# DSIR
# ---------------------------------------------------------------------------


def test_dsir_prefers_target_like_candidates(spark):
    """Candidates written in the target's vocabulary must outrank
    candidates written in a disjoint vocabulary: the importance weight is
    a log-likelihood ratio, so target-gram mass dominates."""
    target = [(i, "alpha beta gamma delta " * 5, "tgt") for i in range(20)]
    likes = [(100 + i, "alpha beta gamma delta alpha beta", "other") for i in range(5)]
    unlikes = [(200 + i, f"zzq{i} wwx{i} vvy{i} uut{i} ssr{i} qqp{i}", "other") for i in range(5)]
    docs = _docs(spark, target + likes + unlikes)
    out = dsir_sample(docs, F.col("lang") == "tgt", k=10).collect()
    assert len(out) == 10
    by_id = {r.doc_id: r for r in out}
    like_w = [by_id[i].w for i in range(100, 105)]
    unlike_w = [by_id[i].w for i in range(200, 205)]
    assert min(like_w) > max(unlike_w)
    # and the final ranking puts every target-like candidate first (the
    # weight gap here dwarfs Gumbel noise)
    top5 = {r.doc_id for r in out if r.rank <= 5}
    assert top5 == {100, 101, 102, 103, 104}


def test_dsir_is_deterministic_and_excludes_target(spark):
    target = [(i, "alpha beta gamma", "tgt") for i in range(10)]
    cands = [(50 + i, f"alpha beta w{i} w{i + 1}", "other") for i in range(20)]
    docs = _docs(spark, target + cands)
    a = sorted(map(tuple, dsir_sample(docs, F.col("lang") == "tgt", k=15).collect()))
    b = sorted(map(tuple, dsir_sample(docs, F.col("lang") == "tgt", k=15).collect()))
    assert a == b
    assert all(row[0] >= 50 for row in a), "target documents must never be sampled"
    # a different salt re-deals the Gumbel noise but not the weights
    c = dsir_sample(docs, F.col("lang") == "tgt", k=15, salt="other-salt").collect()
    w_by_id = {r[0]: r[2] for r in a}
    for row in c:
        if row.doc_id in w_by_id:
            assert row.w == pytest.approx(w_by_id[row.doc_id], abs=1e-9)


def test_dsir_grams_and_buckets(spark):
    """Feature extraction: unigrams + adjacent bigrams; buckets in
    [0, DSIR_BUCKETS)."""
    df = spark.createDataFrame([("a b c",)], "text string").select(
        grams_expr(tokens_expr(F.col("text"))).alias("g")
    )
    assert df.collect()[0].g == ["a", "b", "c", "a b", "b c"]
    one = spark.createDataFrame([("solo",)], "text string").select(
        grams_expr(tokens_expr(F.col("text"))).alias("g")
    )
    assert one.collect()[0].g == ["solo"]
    buckets = (
        spark.range(200)
        .select(bucket_expr(F.col("id").cast("string")).alias("b"))
        .agg(F.min("b"), F.max("b"))
        .collect()[0]
    )
    assert 0 <= buckets[0] and buckets[1] < DSIR_BUCKETS


# ---------------------------------------------------------------------------
# Bloom gate
# ---------------------------------------------------------------------------


def test_bloom_gate_no_false_negatives_even_when_saturated(spark):
    """m_hex_chars=1 (16 bits) saturates the filter — every probe goes
    positive, which is the Bloom contract's degenerate-but-sound corner:
    zero false negatives at ANY load factor, and the exact verify still
    separates true dups from false positives."""
    ref = spark.createDataFrame(
        [(i, f"reference document {i}") for i in range(8)], "doc_id long, text string"
    )
    cand = spark.createDataFrame(
        [(100, "reference document 3"), (101, "reference document 7"),
         (102, "brand new text one"), (103, "brand new text two")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bloom_gate(ref, cand, m_hex_chars=1).collect()}
    assert len(out) == 4
    # true dups are ALWAYS positive (no false negatives)
    assert out[100].bloom_positive and out[100].true_dup
    assert out[101].bloom_positive and out[101].true_dup
    # saturated filter: the new texts are positives too — but FALSE ones,
    # which the exact verify correctly rejects
    assert out[102].bloom_positive and not out[102].true_dup
    assert out[103].bloom_positive and not out[103].true_dup


def test_bloom_gate_separates_at_production_sizing(spark):
    """At the registered sizing (m=65536, k=4) a small reference leaves
    the filter sparse: new texts are definite negatives, dups positive."""
    ref = spark.createDataFrame(
        [(i, f"reference document {i}") for i in range(50)], "doc_id long, text string"
    )
    cand = spark.createDataFrame(
        [(200 + i, f"reference document {i}") for i in range(10)]
        + [(300 + i, f"fresh text {i}") for i in range(10)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bloom_gate(ref, cand).collect()}
    for i in range(10):
        assert out[200 + i].bloom_positive and out[200 + i].true_dup
        assert not out[300 + i].true_dup
    # 50 refs * 4 hashes = <=200 of 65536 bits set: P(single FP) ~ 8.7e-11;
    # md5 is fixed, so this is a deterministic fact of these strings, the
    # assert just documents it
    assert not any(out[300 + i].bloom_positive for i in range(10))


def test_bloom_probe_bitmap_type_is_stable(spark):
    """Regression: a bitmap whose words ALL fit int32 (here a saturated
    filter — words of -1/small ints) must still probe as 64-bit words;
    F.lit would otherwise infer array<int> and bit_get rejects positions
    >= 32 (surfaced first on the 100x corpus, where 250k reference docs
    saturate m=65536 and most words collapse to -1)."""
    from futures_eos_cdc_spark.operators.bloom import bloom_probe_expr

    m_hex = 2  # m = 256 bits -> 4 words
    bitmap = [-1, -1, -1, -1]  # every bit set, every word int32-representable
    df = spark.createDataFrame([(f"digest {i}",) for i in range(32)], "digest string")
    out = df.select(
        bloom_probe_expr(F.col("digest"), bitmap, m_hex_chars=m_hex).alias("p")
    ).collect()
    assert all(r.p for r in out)  # saturated filter: everything positive


def test_bloom_gate_probe_is_pure_projection(spark):
    """The operator's whole scale story: the bitmap rides as a literal,
    so the PROBE adds no join and no exchange — the only join in the
    plan is the exact verify (digest-keyed, bloom-positives only), and
    nothing is Python."""
    ref = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    cand = spark.createDataFrame(
        [(100 + i, f"doc {i % 30}") for i in range(30)], "doc_id long, text string"
    )
    plan = bloom_gate(ref, cand)._jdf.queryExecution().executedPlan().toString()
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                  "BroadcastNestedLoopJoin", "CartesianProduct")
    )
    assert n_joins == 1  # the exact verify over positives — nothing else
    assert "bit_get" in plan and "forall" in plan  # the projection probe
    assert "Union" in plan  # negatives bypass the join entirely
    assert "PythonUDF" not in plan


def test_bloom_gate_null_text_matches_plain_gate_semantics(spark):
    """A NULL-text candidate has a NULL digest: the plain digest
    anti-join ADMITS it (NULL never equi-matches), so the bloom gate
    must too — before the coalesce fix the NULL probe verdict dropped
    the row from BOTH filter branches (reported by neither)."""
    ref = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(5)], "doc_id long, text string"
    )
    cand = spark.createDataFrame(
        [(100, "doc 2"), (101, None), (102, "fresh")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bloom_gate(ref, cand).collect()}
    assert set(out) == {100, 101, 102}  # the NULL-text row is NOT lost
    assert out[100].bloom_positive and out[100].true_dup
    assert not out[101].bloom_positive and not out[101].true_dup
    assert not out[102].bloom_positive


def test_bloom_gate_null_text_in_reference_sets_no_bits(spark):
    """A NULL-text REFERENCE row has a NULL digest whose positions are
    all NULL: it must set NO bits (matching the oracle, where a NULL key
    never equi-matches). Before the builder-side guard the NULL positions
    survived explode/distinct and crashed the Python packing loop
    (TypeError: None // int)."""
    ref = spark.createDataFrame(
        [(0, "doc 0"), (1, None), (2, "doc 2")], "doc_id long, text string"
    )
    cand = spark.createDataFrame(
        [(100, "doc 2"), (101, None), (102, "fresh")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bloom_gate(ref, cand).collect()}
    assert set(out) == {100, 101, 102}
    assert out[100].bloom_positive and out[100].true_dup
    # NULL candidate vs NULL reference: still admitted — NULL never matches.
    assert not out[101].bloom_positive and not out[101].true_dup
    assert not out[102].true_dup


def test_gate_index_bloom_null_content_matches_plain(spark, tmp_path):
    """Same contract on the index gate: NULL content rows get the same
    verdict from the bloom-accelerated path as from the plain anti-join."""
    from futures_eos_cdc_spark.operators.gate_index import DedupGateIndex

    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(5)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, "doc 2"), (101, None), (102, "fresh")],
        "doc_id long, text string",
    )
    idx = DedupGateIndex.build(corpus, str(tmp_path / "i"), "exact", bloom=True)
    fast = {r.doc_id for r in idx.gate(batch, use_bloom=True).collect()}
    plain = {r.doc_id for r in idx.gate(batch, use_bloom=False).collect()}
    assert fast == plain == {101, 102}


def test_dsir_ratio_literal_default_uses_half_up_rounding(spark):
    """ADVICE r11: the count-0 default weight must round half-up at 6dp —
    the same rule F.round applies in dsir_log_ratios — not Python
    round()'s banker's rounding. Pin parity by computing the identical
    formula through Spark round and comparing bit-for-bit."""
    from futures_eos_cdc_spark.operators.dsir import (
        dsir_ratio_literal,
    )

    counts = spark.createDataFrame(
        [(1, 3, 2, True), (2, 7, 5, False), (3, 3, 4, True)],
        "doc_id long, bucket int, cnt long, is_t boolean",
    )
    ratios = dsir_ratio_literal(counts, n_buckets=8)
    raw_tot, tgt_tot = 11, 6
    spark_default = spark.range(1).select(
        F.round(
            F.log(F.lit(1.0) / F.lit(float(tgt_tot + 8)))
            - F.log(F.lit(1.0) / F.lit(float(raw_tot + 8))),
            6,
        ).alias("d")
    ).collect()[0].d
    # bucket 0 was never hit by training, so it carries the default
    assert ratios[0] == spark_default


def test_bloom_gate_query_builds_reference_artifacts_once(spark, sf_dir):
    """r12 fix for the r11 driver-session sensitivity: repeated
    invocations of the registered query must REUSE the session's
    prepared (digest checkpoint, bitmap) pair instead of re-collecting
    set bits and re-checkpointing per call."""
    from unittest import mock

    from futures_eos_cdc_spark import memo
    from futures_eos_cdc_spark.operators import bloom
    from futures_eos_cdc_spark.plans.registry import QUERIES

    memo.forget("bloom_prepared")
    with mock.patch.object(
        bloom, "bloom_bitmap", wraps=bloom.bloom_bitmap
    ) as bb:
        QUERIES["bloom_dedup_gate"](spark, sf_dir).count()
        QUERIES["bloom_dedup_gate"](spark, sf_dir).count()
        assert bb.call_count == 1, "bitmap must build once per session"
        assert sum(k[0] == "bloom_prepared" for _app, k in memo._ENTRIES) == 1


def test_bloom_probe_expr_builds_in_few_py4j_round_trips(spark, monkeypatch):
    """The bitmap rides as ONE parsed literal: building the probe over a
    4,096-word bitmap costs fewer than 100 py4j round trips more than
    over a 1-word bitmap, not one or more per word (F.lit(list) made
    ~16,500 more). The rest of the probe (the k bit-position
    expressions, ~160 round trips with PySpark's DataFrame debugging off,
    as get_spark sets it) costs the same for both."""
    from py4j.clientserver import ClientServerConnection

    from futures_eos_cdc_spark.operators.bloom import bloom_probe_expr

    bitmap = [(i * 0x9E3779B97F4A7C15) % (1 << 64) - (1 << 63) for i in range(4096)]
    calls = []
    send = ClientServerConnection.send_command

    def counting_send(self, command, *args, **kwargs):
        calls.append(1)
        return send(self, command, *args, **kwargs)

    def round_trips(words):
        del calls[:]
        bloom_probe_expr(F.col("digest"), words)
        return len(calls)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
    round_trips(bitmap[:1])  # first build pays one-off lookups
    small, big = round_trips(bitmap[:1]), round_trips(bitmap)
    monkeypatch.undo()
    assert small > 0 and big - small < 100, (small, big)


def test_const_array_round_trips_each_element_type(spark):
    """common.const_array renders each element by its Python type and the
    parsed literal collects back unchanged: BIGINT extremes, doubles that
    need all 17 digits, and strings holding quotes and backslashes."""
    import numpy as np

    from futures_eos_cdc_spark.operators.common import const_array

    ints = [-(1 << 63), (1 << 63) - 1, -1, 0, 7]
    floats = [0.1, -2.5e-300, 1 / 3, float(np.float64(2.0) / 3)]
    strs = ["it's", "back\\slash", 'dq"', "", "日本"]
    row = spark.range(1).select(
        const_array(ints).alias("i"),
        const_array(floats).alias("f"),
        const_array(strs).alias("s"),
        const_array([np.float64(0.25)]).alias("np"),
    ).collect()[0]
    assert list(row.i) == ints
    assert list(row.f) == floats
    assert list(row.s) == strs
    assert list(row.np) == [0.25]
    assert dict(
        spark.range(1).select(const_array(ints).alias("i")).dtypes
    )["i"] == "array<bigint>"
