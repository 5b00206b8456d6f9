"""Linear n-gram kernels: same outputs as the per-element constructions they
replace, no lambda that re-reads a row expression, and result caches that
outlive a plan-equal sibling result."""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

from futures_eos_cdc_spark.lambda_guard import lambda_invariants
from futures_eos_cdc_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash16_expr,
)
from futures_eos_cdc_spark.operators.dsir import grams_expr
from futures_eos_cdc_spark.operators.common import sql_expr
from futures_eos_cdc_spark.operators.langid import (
    _char_grams_sql,
    gram_buckets_expr,
    langid_best_expr,
    langid_ranked_expr,
)
from futures_eos_cdc_spark.operators.text import (
    STOPWORDS_EN,
    fingerprint_expr,
    gopher_metrics,
    hashed_classifier_logit_expr,
    ngrams_expr,
    shingles_expr,
    tokens_expr,
)

TEXTS = [
    None,
    "",
    "   ",
    "one",
    "one two",
    "one two three",
    "one two three four five six seven eight",
    "a b a b a b c a b",  # repeated shingles: first-occurrence order
    "  The\t\tcat   sat \n on  the   mat  ",  # whitespace runs
    "der Hund und die Katze ist nicht ein Hund",
    "東京は日本の首都です。大阪も大きい",  # CJK, no spaces
    "emoji 😀 text 🎉🎉 with 𝕏 surrogate pairs",
    "x" * 300,  # longer than the langid char cap
]


# The per-element constructions these kernels replace, kept verbatim as the
# reference: each lambda body re-reads its row expression.
def _old_shingles(tokens, k):
    n = F.size(tokens)
    seq = F.sequence(F.lit(1), n - (k - 1))
    sh = F.transform(seq, lambda i: F.concat_ws(" ", F.slice(tokens, i, k)))
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.array(F.concat_ws(" ", tokens))
    )


def _old_bigrams(toks):
    return F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def _old_contam_grams(t, k):
    return F.transform(
        F.sequence(F.lit(1), F.size(t) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, k)),
    )


def _char_grams(text, n=3, max_chars=254):
    """The character n-grams gram_buckets_expr hashes, as a Column."""
    return sql_expr(lambda t: _char_grams_sql(t, n, max_chars), text)


def _old_char_grams(text, n=3, max_chars=254):
    s = F.concat(F.lit(" "), F.lower(F.substring(text, 1, max_chars)), F.lit(" "))
    ln = F.length(s)
    grams = F.transform(
        F.sequence(F.lit(1), ln - (n - 1)), lambda i: s.substr(i, F.lit(n))
    )
    return F.when(ln >= n, grams).otherwise(F.array().cast("array<string>"))


def _old_logit(text, salt="qw|"):
    toks = tokens_expr(text)
    feats = F.concat(toks, _old_bigrams(toks))
    wsum = F.aggregate(
        feats,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.conv(F.substring(F.md5(F.concat(F.lit(salt), t)), 1, 4), 16, 10).cast("long")
        - 32768,
    )
    return wsum / (F.lit(32768.0) * F.size(feats))


def _old_n_stop(text):
    toks = tokens_expr(text)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    return F.size(F.filter(stop_arr, lambda s: F.array_contains(toks, s)))


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "id long, text string"
    )


def _same(df, new, old):
    rows = df.orderBy("id").select(new.alias("new"), old.alias("old")).collect()
    bad = [(TEXTS[i], r.new, r.old) for i, r in enumerate(rows) if r.new != r.old]
    assert not bad, bad[:3]
    return [r.new for r in rows]


@pytest.mark.parametrize("k", [1, 2, 3, 5, 8])
def test_shingles_match_per_element_form(texts, k):
    t = F.col("text")
    got = _same(texts, shingles_expr(tokens_expr(t), k), _old_shingles(tokens_expr(t), k))
    if k == 2:
        assert got[TEXTS.index("a b a b a b c a b")] == ["a b", "b a", "b c", "c a"]
    if k == 3:
        assert got[TEXTS.index(None)] == [""]
        assert got[TEXTS.index("one two")] == ["one two"]  # k-1 tokens
        assert got[TEXTS.index("one two three")] == ["one two three"]  # exactly k


def test_fingerprint_matches_per_element_form(texts):
    t = F.col("text")
    old = F.array_min(F.transform(_old_shingles(tokens_expr(t), 8), F.md5))
    _same(texts, fingerprint_expr(t), old)


@pytest.mark.parametrize("k", [2, 3, 8])
def test_ngrams_match_contamination_grams(texts, k):
    toks = texts.select("id", tokens_expr(F.col("text")).alias("t"))
    # the contamination queries filter to docs with at least k tokens
    long_enough = toks.filter(F.size("t") >= k).select(
        "id", ngrams_expr(F.col("t"), k).alias("new"), _old_contam_grams(F.col("t"), k).alias("old")
    )
    rows = long_enough.collect()
    assert rows and all(r.new == r.old for r in rows)
    # and fewer tokens than k give no gram (NULL stays NULL)
    short = {
        r.id: r.g
        for r in toks.filter(~(F.size("t") >= k) | F.col("t").isNull())
        .select("id", ngrams_expr(F.col("t"), k).alias("g"))
        .collect()
    }
    assert short[TEXTS.index(None)] is None
    assert all(g == [] for i, g in short.items() if TEXTS[i] is not None)


def test_bigram_constructions_match_k2(texts):
    t = F.col("text")
    toks = tokens_expr(t)
    raw = F.split(F.trim(t), r"\s+")  # repetition_stats' un-lowered split
    _same(texts, ngrams_expr(toks, 2), _old_bigrams(toks))
    _same(texts, ngrams_expr(raw, 2), _old_bigrams(raw))
    _same(texts, grams_expr(toks), F.concat(toks, _old_bigrams(toks)))
    _same(texts, hashed_classifier_logit_expr(t), _old_logit(t))


def test_char_grams_match_per_element_form(texts):
    t = F.col("text")
    got = _same(texts, _char_grams(t), _old_char_grams(t))
    _same(texts, _char_grams(t, 2, 5), _old_char_grams(t, 2, 5))
    assert got[TEXTS.index(None)] == [] and got[TEXTS.index("")] == []
    cjk = got[TEXTS.index("東京は日本の首都です。大阪も大きい")]
    assert cjk[:2] == [" 東京", "東京は"]
    emoji = got[TEXTS.index("emoji 😀 text 🎉🎉 with 𝕏 surrogate pairs")]
    assert "🎉🎉 " in emoji and " 𝕏 " in emoji  # one code point, not two halves
    assert len(got[TEXTS.index("x" * 300)]) == 254


def test_gopher_stopword_count_matches_per_element_form(texts):
    _same(texts, gopher_metrics(F.col("text"))["n_stop_distinct"], _old_n_stop(F.col("text")))


def _kernels():
    t = F.col("text")
    model = {"de": [1, 2, 3, 4], "en": [4, 3, 2, 1]}
    out = {
        "shingles_expr": shingles_expr(tokens_expr(t), 3),
        "fingerprint_expr": fingerprint_expr(t),
        "char_grams": _char_grams(t),
        "gram_buckets_expr": gram_buckets_expr(t),
        "simhash16_expr": simhash16_expr(tokens_expr(t)),
        "dsir.grams_expr": grams_expr(tokens_expr(t)),
        "hashed_classifier_logit_expr": hashed_classifier_logit_expr(t),
        "langid_best_expr": langid_best_expr(t, model, buckets=4),
        "langid_ranked_expr": langid_ranked_expr(t, model, buckets=4),
    }
    out.update({f"gopher_metrics.{k}": v for k, v in gopher_metrics(t).items()})
    return out


def test_kernels_evaluate_row_expressions_once_per_row(texts):
    """No lambda body may re-read a row expression per element."""
    bad = {
        name: found
        for name, e in _kernels().items()
        if (found := lambda_invariants(texts.select(e.alias("x"))))
    }
    assert not bad, bad


def test_lambda_guard_flags_per_element_reads(texts):
    """The guard's own contract: the replaced constructions are flagged, while
    attributes, literals and struct fields read inside a lambda are cheap."""
    t = F.col("text")
    assert lambda_invariants(texts.select(_old_shingles(tokens_expr(t), 3)))
    assert lambda_invariants(texts.select(_old_char_grams(t)))
    assert lambda_invariants(texts.select(_old_n_stop(t)))
    cheap = texts.select(
        F.struct("id", "text").alias("a"), F.array(F.lit(1), F.lit(2)).alias("p")
    ).select(
        F.transform("p", lambda x: F.struct(F.col("a.id") + x, F.col("a.text"), F.lit("k")))
    )
    assert lambda_invariants(cheap) == []


def _cached_relations(df) -> int:
    """InMemoryRelations in a FRESH plan of ``df`` (the cache lookup runs
    when a plan is built, so a new Dataset sees the current cache)."""
    fresh = df.select("*")
    return fresh._jdf.queryExecution().optimizedPlan().toString().count("InMemoryRelation")


@pytest.mark.parametrize("pairs", [ngram_jaccard_pairs, minhash_lsh_pairs])
def test_dropping_a_result_keeps_a_plan_equal_results_cache(spark, sf_dir, pairs):
    """Two results over the same input persist plan-equal subplans, and
    Spark keeps one cache entry for both: releasing the first result must
    not drop the second's cache."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r2 = pairs(docs)
    r3 = pairs(docs)
    held = _cached_relations(r3)
    assert held > 0
    del r2
    gc.collect()
    assert _cached_relations(r3) == held
    r3.release_cache()
    r3.release_cache()  # idempotent: a second call releases nothing more
    assert _cached_relations(r3) == 0


def test_release_cache_twice_does_not_release_a_sibling(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r2 = ngram_jaccard_pairs(docs)
    r3 = ngram_jaccard_pairs(docs)
    held = _cached_relations(r3)
    r2.release_cache()
    r2.release_cache()
    assert _cached_relations(r3) == held
    del r3
    gc.collect()
    assert _cached_relations(r2) == 0
