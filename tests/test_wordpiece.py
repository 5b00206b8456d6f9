"""WordPiece tokenizer semantics (operators/wordpiece.py) the oracle
cannot state: the likelihood merge criterion (hand-traced against the
plain-frequency BPE choice it must differ from), greedy
longest-match-first apply including the BERT whole-word-[UNK] rule,
Spark/Python apply parity, trainer invariants, and the doc-count
contract."""

from __future__ import annotations

import pytest

from futures_eos_cdc_spark.operators.text import doc_token_counts, word_tokens
from futures_eos_cdc_spark.operators.wordpiece import (
    WORDPIECE_MAX_PIECE_LEN,
    _make_wordpiece,
    train_wordpiece_py,
    wordpiece_tokens_py,
)

# ---------------------------------------------------------------------------
# Training
# ---------------------------------------------------------------------------


def test_training_uses_likelihood_not_frequency():
    """The merge criterion is count(ab)/(count(a)*count(b)), NOT raw
    count(ab) (that would be BPE). Corpus: 'ab' appears 10 times but both
    a and b are very common (10 each -> score 10/100 = 0.1); 'xy' appears
    only 3 times but x and y appear ONLY in 'xy' (3 each -> score
    3/9 = 0.333). WordPiece must merge xy first; BPE would merge ab."""
    wf = [("ab", 10), ("xy", 3)]
    vocab = dict(train_wordpiece_py(wf, vocab_size=6))
    # ranks: alphabet = 0; first merge = 1
    assert vocab["x" + "y"] == 1  # xy merged first (higher likelihood)
    assert vocab["ab"] == 2


def test_training_alphabet_always_kept_and_deterministic():
    wf = [("hello", 10), ("help", 5), ("world", 8)]
    v1 = train_wordpiece_py(wf, vocab_size=40)
    v2 = train_wordpiece_py(wf, vocab_size=40)
    assert v1 == v2  # fully deterministic
    pieces = dict(v1)
    # positional alphabet (the HF convention): plain symbols for chars
    # seen word-INITIALLY, ## symbols for chars seen non-initially
    for ch in "hw":
        assert ch in pieces and pieces[ch] == 0
    for ch in "elopr d".replace(" ", ""):
        assert ("##" + ch) in pieces and pieces["##" + ch] == 0
    # rank 0 iff alphabet; merges get consecutive ranks from 1 with NO
    # gaps and NO duplicates (code-review r11: a same-string re-merge
    # must keep the first rank, never punch a hole in the sequence)
    ranks = sorted(r for _, r in v1 if r > 0)
    assert ranks == list(range(1, len(ranks) + 1))


def test_training_respects_max_piece_len():
    wf = [("aaaaaaaaaaaa", 100)]  # 12 a's
    vocab = train_wordpiece_py(wf, vocab_size=50, max_piece_len=4)
    for p, _ in vocab:
        content = p[2:] if p.startswith("##") else p
        assert len(content) <= 4


def test_training_stops_when_no_pair_repeats():
    wf = [("ab", 1)]  # the only pair occurs once: still mergeable (count 1)
    vocab = dict(train_wordpiece_py(wf, vocab_size=100))
    # a, ##b, ab — then nothing left to merge; no infinite loop, no filler
    assert set(vocab) == {"a", "##b", "ab"}


# ---------------------------------------------------------------------------
# Greedy apply
# ---------------------------------------------------------------------------


def test_greedy_longest_match_first():
    vocab = {"un", "##able", "##a", "##b", "##l", "##e", "u", "##n", "una",
             "##ble"}
    # longest match at pos 0 is 'una' (not 'un'): greedy takes it, then
    # '##ble' — exactly BERT's behavior, even when 'un'+'##able' would
    # give fewer tokens (greedy is NOT minimal)
    assert wordpiece_tokens_py("unable", vocab) == ["una", "##ble"]


def test_unmatchable_position_gives_whole_word_unk():
    vocab = {"a", "##b"}
    assert wordpiece_tokens_py("abz", vocab) == ["[UNK]"]  # z unmatched
    assert wordpiece_tokens_py("zab", vocab) == ["[UNK]"]  # at pos 0
    assert wordpiece_tokens_py("ab", vocab) == ["a", "##b"]


def test_continuation_prefix_lookup():
    # 'aa': pos 0 looks up 'a' (plain), pos 1 looks up '##a'
    assert wordpiece_tokens_py("aa", {"a", "##a"}) == ["a", "##a"]
    assert wordpiece_tokens_py("aa", {"a"}) == ["[UNK]"]  # no ##a


def test_scan_depth_is_bounded():
    """A vocab piece longer than max_piece_len can never match — the
    closure's scan window is the configuration constant."""
    long_piece = "a" * (WORDPIECE_MAX_PIECE_LEN + 2)
    vocab = {long_piece, "a", "##a"}
    toks = wordpiece_tokens_py(long_piece, vocab)
    assert toks == ["a"] + ["##a"] * (WORDPIECE_MAX_PIECE_LEN + 1)


# ---------------------------------------------------------------------------
# Spark apply parity + doc counts
# ---------------------------------------------------------------------------


def test_spark_apply_matches_python_reference(spark):
    wf = [("hello", 10), ("held", 5), ("world", 8), ("word", 7), ("low", 3)]
    vocab = train_wordpiece_py(wf, vocab_size=30)
    words = ["hello", "held", "world", "word", "low", "lowword", "qqq"]
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: list(r["toks"])
        for r in word_tokens(wdf, _make_wordpiece({p for p, _ in vocab})).collect()
    }
    wp = _make_wordpiece({p for p, _ in vocab})
    assert got == {w: wp(w) for w in words}
    # round-trip: non-UNK segmentations reassemble the word
    for w, toks in got.items():
        if toks != ["[UNK]"]:
            assert "".join(t[2:] if t.startswith("##") else t for t in toks) == w


def test_doc_token_counts_contract(spark):
    vocab = train_wordpiece_py([("big", 5), ("dog", 5), ("bigdog", 2)], 30)
    docs = spark.createDataFrame(
        [(1, "big dog"), (2, "bigdog bigdog big"), (3, None), (4, "  ")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in doc_token_counts(docs, _make_wordpiece({p for p, _ in vocab})).collect()
    }
    # NULL text drops; a whitespace-only doc tokenizes to one empty word
    # with zero pieces (the same contract as the unigram/BPE twins)
    assert set(out) == {1, 2, 4}
    assert out[4].n_words == 1 and out[4].n_tokens == 0
    wp = _make_wordpiece({p for p, _ in vocab})
    assert out[1].n_words == 2
    assert out[1].n_tokens == len(wp("big")) + len(wp("dog"))
    assert out[2].n_words == 3
    assert out[2].n_tokens == 2 * len(wp("bigdog")) + len(wp("big"))
    assert out[2].fertility == pytest.approx(out[2].n_tokens / 3)
    # a doc whose words array is empty (every word filtered out) drops
    import pyspark.sql.functions as F

    from futures_eos_cdc_spark.operators.text import tokens_expr

    def no_dog(t):
        return F.filter(tokens_expr(t), lambda w: w != "dog")

    more = spark.createDataFrame([(5, "dog dog"), (6, "dog big")], "doc_id long, text string")
    kept = {r.doc_id: r for r in doc_token_counts(more, wp, words=no_dog).collect()}
    assert set(kept) == {6} and kept[6].n_words == 1
