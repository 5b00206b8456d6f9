"""Unigram-LM tokenizer (operators/unigram.py): training invariants via a
hand-traced corpus, Viterbi pinned against brute-force enumeration with
the documented tie rule, apply-path parity (Python == Arrow closure), and
the edge cases the cross-engine contract depends on (UNK characters,
non-BMP codepoints, empty input). Oracle parity for the registered
queries is covered by test_oracle_parity (the DuckDB side replays Viterbi
as a recursive CTE)."""

from __future__ import annotations

import itertools
import math

import pyspark.sql.functions as F

from futures_eos_cdc_spark.operators.text import doc_token_counts, word_tokens
from futures_eos_cdc_spark.operators.unigram import (
    UNIGRAM_MAX_PIECE_LEN,
    UNIGRAM_UNK_LOGP,
    _make_viterbi,
    train_unigram_py,
    viterbi_tokens_py,
)


def _brute_force_best(word, logp, max_len):
    """All segmentations by exhaustive cut enumeration; best by (score,
    then FIRST in the order Viterbi's scan would produce) — here we only
    check the score, plus that Viterbi's answer is achievable."""
    n = len(word)
    best = None
    for bits in itertools.product([0, 1], repeat=max(n - 1, 0)):
        cuts = [0] + [i + 1 for i, b in enumerate(bits) if b] + [n]
        toks = [word[cuts[k] : cuts[k + 1]] for k in range(len(cuts) - 1)]
        if any(len(t) > max_len for t in toks):
            continue
        score = 0.0
        ok = True
        for t in toks:
            p = logp.get(t)
            if p is None:
                if len(t) != 1:
                    ok = False
                    break
                p = UNIGRAM_UNK_LOGP
            score += p
        if ok and (best is None or score > best):
            best = score
    return best


def test_viterbi_matches_brute_force():
    logp = {"a": -1.0, "b": -2.0, "ab": -2.2, "abc": -4.0, "c": -1.5,
            "bc": -2.9, "abab": -5.1}
    for word in ["abcab", "ababab", "ba", "c", "abcabc", "aaaa", "axb"]:
        toks = viterbi_tokens_py(word, logp, max_piece_len=4)
        assert "".join(toks) == word  # segmentation covers the word
        score = sum(logp.get(t, UNIGRAM_UNK_LOGP) for t in toks)
        assert score == _brute_force_best(word, logp, 4)


def test_viterbi_tie_rule_shortest_piece_wins():
    """Two exactly-equal-score paths: the scan is length-ASCENDING with
    strict improvement, so the shorter piece ending each position wins —
    the rule the SQL oracle replays (list_reduce left fold, strict >)."""
    logp = {"a": -1.0, "aa": -2.0}  # 'aa' as one piece == two 'a's
    assert viterbi_tokens_py("aa", logp) == ["a", "a"]
    assert viterbi_tokens_py("aaa", logp) == ["a", "a", "a"]


def test_viterbi_unk_and_non_bmp():
    logp = {"a": -1.0}
    assert viterbi_tokens_py("aXa", logp) == ["a", "X", "a"]  # UNK single char
    # non-BMP: Python slices by codepoint; the contract the oracle's
    # substr (also codepoint-based) must share
    word = "a\U0001F600b"
    toks = viterbi_tokens_py(word, logp)
    assert toks == ["a", "\U0001F600", "b"]
    assert viterbi_tokens_py("", logp) == []


def test_training_hand_trace_and_invariants():
    """Tiny corpus: 'abab' x10, 'ab' x5, 'cd' x3. All chars survive; the
    dominant piece 'ab' must enter the vocabulary and win segmentation;
    log-probs are 6dp-rounded finite negatives; vocab size bounded."""
    wf = [("abab", 10), ("ab", 5), ("cd", 3)]
    pieces = train_unigram_py(wf, vocab_size=8, max_piece_len=3, em_iters=2)
    d = dict(pieces)
    assert {"a", "b", "c", "d"} <= set(d)  # character coverage 1.0
    assert "ab" in d
    assert len(d) <= 8
    for p, lp in pieces:
        assert lp < 0 and math.isfinite(lp)
        assert round(lp, 6) == lp  # the persisted-table 6dp contract
    assert viterbi_tokens_py("abab", d, 3) == ["ab", "ab"]
    # determinism: retraining reproduces the table bit-for-bit
    assert pieces == train_unigram_py(wf, vocab_size=8, max_piece_len=3, em_iters=2)


def test_arrow_apply_matches_python(spark, sf_dir):
    """The mapInPandas closure is a by-value twin of viterbi_tokens_py:
    run both over the fixture's distinct words under a fixture-trained
    vocabulary and compare every segmentation."""
    from futures_eos_cdc_spark.operators.text import tokens_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(tokens_expr(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    wf = [(r["word"], r["freq"]) for r in words.collect()]
    pieces = train_unigram_py(wf, vocab_size=256, em_iters=1)
    logp = dict(pieces)
    got = {
        r["word"]: list(r["toks"])
        for r in word_tokens(words, _make_viterbi(logp)).collect()
    }
    assert len(got) == len(wf)
    for w, _ in wf:
        assert got[w] == viterbi_tokens_py(w, logp, UNIGRAM_MAX_PIECE_LEN), w
        assert "".join(got[w]) == w


def test_doc_counts_plan_shape(spark, sf_dir):
    """The join-based apply keeps the BPE discipline: exactly one Arrow
    stage over the DISTINCT-word table, the corpus joins the tokenized
    vocabulary via broadcast, no corpus-side sort-merge join."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pieces = [("a", -1.0), ("b", -2.0)]
    df = doc_token_counts(docs, _make_viterbi(dict(pieces)))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    row = df.agg(F.sum("n_tokens"), F.sum("n_words")).collect()[0]
    assert row[0] >= row[1]  # at least one token per word
    # each corpus branch of the registered query splits the text once, in
    # its explode: no filter or scan predicate re-evaluates the words
    from futures_eos_cdc_spark.plans import QUERIES

    q = QUERIES["unigram_token_counts"](spark, sf_dir)
    lines = [
        ln
        for ln in q._jdf.queryExecution().executedPlan().toString().splitlines()
        if "split(trim(lower(" in ln
    ]
    assert lines
    for ln in lines:
        assert ln.count("split(trim(lower(") == 1
        assert "Generate explode(split(trim(lower(" in ln


def test_stream_unigram_meter_matches_batch(spark, sf_dir, tmp_path):
    """The unigram foreachBatch token meter produces exactly the batch
    operator's counts over a file-source stream — the unigram twin of
    test_stream_v1k_meter_matches_batch."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    from futures_eos_cdc_spark.operators.text import tokens_expr

    wf_df = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(tokens_expr(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pieces = train_unigram_py([(r["word"], r["freq"]) for r in wf_df.collect()])
    segment = _make_viterbi(dict(pieces))
    want = {
        (r.doc_id, r.n_words, r.n_tokens)
        for r in doc_token_counts(docs, segment).collect()
    }

    src = str(tmp_path / "src")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    got = set()

    def sink(df, epoch_id):
        got.update((r.doc_id, r.n_words, r.n_tokens) for r in df.collect())

    q = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(src)
        .writeStream.foreachBatch(
            lambda df, e: sink(doc_token_counts(df, segment), e)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert got == want and len(got) > 0
