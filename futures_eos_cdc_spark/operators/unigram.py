"""Unigram-LM subword tokenizer (Kudo 2018, arXiv:1804.10959 — the
SentencePiece 'unigram' algorithm), completing the production tokenizer
family next to BPE (operators/bpe.py): BPE grows a vocabulary bottom-up
by merge rank; unigram starts from a large seed vocabulary and PRUNES it
under a piece-probability model, segmenting by Viterbi max-likelihood.

Training here is the standard hard-EM simplification (Viterbi counts
instead of forward-backward expectations — deterministic, and the shape
every from-scratch reimplementation pins first):

1. seed = every substring of the corpus words up to ``max_piece_len``,
   frequency-weighted, capped to the top multi-char pieces by (count,
   piece) + ALL single characters (character coverage 1.0, so every word
   stays segmentable);
2. E-step: Viterbi-segment each distinct word under current piece
   log-probs, accumulate piece counts weighted by word frequency;
3. M-step: keep chars + the top ``vocab_size - |chars|`` multi-char
   pieces by (count, piece), re-estimate Laplace-smoothed log-probs
   (rounded to 6dp — the cross-engine ln() convention);
4. repeat ``em_iters`` times.

Viterbi ties are resolved by a FIXED scan order: piece lengths ascending
with strict improvement (first max wins), so the Python apply, the Arrow
batch apply, and the DuckDB recursive-CTE oracle produce bit-identical
segmentations — dp values are chains of IEEE additions over the same 6dp
table in the same order.

Scale shape (100 TB): training runs on the bounded word-frequency table
(the BPE trainer's TakeOrderedAndProject collect, <= vocab_cap rows);
apply is the shared distinct-word path of operators.text
(``doc_token_counts`` / ``word_tokens``) with :func:`_make_viterbi` as
the segmenter — Python touches only the vocabulary, the corpus sees one
word explode, one broadcast join, one doc-keyed aggregation, all
n_pieces-INDEPENDENT. Unknown characters
(absent from the training corpus) segment as single-char tokens at a
fixed floor log-prob — the UNK convention, identical in every engine.
"""

from __future__ import annotations

UNIGRAM_VOCAB_SIZE = 512
UNIGRAM_MAX_PIECE_LEN = 6
UNIGRAM_EM_ITERS = 2
UNIGRAM_SEED_MULT = 4  # seed keeps seed_mult * vocab_size multi-char pieces
UNIGRAM_UNK_LOGP = -20.0


def _make_viterbi(
    logp: dict[str, float],
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    unk_logp: float = UNIGRAM_UNK_LOGP,
):
    """THE Viterbi segmenter ``word -> list[piece]``, built once per
    vocabulary — the single implementation every caller shares, and the
    segmenter the shared distinct-word apply (operators.text) runs: a
    dynamically-created closure that cloudpickle ships BY VALUE into the
    Arrow batch body, so workers never import this package.

    dp over codepoint positions; candidates scanned by piece length
    ASCENDING with strict >, so ties keep the shortest piece ending at
    each position — the exact rule the SQL oracle replays. Single chars
    missing from the vocabulary fall back to ``unk_logp``."""

    def viterbi(word: str) -> list:
        n = len(word)
        dp = [0.0] + [None] * n
        back = [0] * (n + 1)
        for i in range(1, n + 1):
            best = None
            bj = 0
            for length in range(1, min(max_piece_len, i) + 1):
                j = i - length
                prev = dp[j]
                if prev is None:
                    continue
                p = logp.get(word[j:i])
                if p is None:
                    if length != 1:
                        continue
                    p = unk_logp
                s = prev + p
                if best is None or s > best:
                    best, bj = s, j
            dp[i] = best
            back[i] = bj
        toks: list = []
        i = n
        while i > 0:
            j = back[i]
            toks.append(word[j:i])
            i = j
        toks.reverse()
        return toks

    return viterbi


def viterbi_tokens_py(
    word: str,
    logp: dict[str, float],
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    unk_logp: float = UNIGRAM_UNK_LOGP,
) -> list[str]:
    """Max-likelihood segmentation of ``word`` — the one-shot wrapper
    over :func:`_make_viterbi` (batch callers build the closure once)."""
    return _make_viterbi(logp, max_piece_len, unk_logp)(word)


def train_unigram_py(
    word_freqs: list[tuple[str, int]],
    vocab_size: int = UNIGRAM_VOCAB_SIZE,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    em_iters: int = UNIGRAM_EM_ITERS,
    seed_mult: int = UNIGRAM_SEED_MULT,
) -> list[tuple[str, float]]:
    """Hard-EM unigram-LM training over a (word, freq) table (module
    docstring). Deterministic: counts are exact ints, selection ties
    break on the piece itself, log-probs are rounded to 6dp at every
    re-estimate (the persisted-table contract). Returns (piece, logp)
    sorted by piece."""
    import math

    # 1. seed: frequency-weighted substring counts
    counts: dict[str, int] = {}
    chars: set[str] = set()
    for word, freq in word_freqs:
        n = len(word)
        for j in range(n):
            chars.add(word[j])
            for length in range(1, min(max_piece_len, n - j) + 1):
                piece = word[j : j + length]
                counts[piece] = counts.get(piece, 0) + freq

    def select(cnts: dict[str, int], n_multi: int) -> list[str]:
        multi = sorted(
            ((p, c) for p, c in cnts.items() if len(p) > 1 and c > 0),
            key=lambda pc: (-pc[1], pc[0]),
        )[:n_multi]
        return sorted(chars | {p for p, _ in multi})

    def estimate(keep: list[str], cnts: dict[str, int]) -> dict[str, float]:
        total = sum(cnts.get(p, 0) for p in keep)
        denom = float(total + len(keep))
        return {
            p: round(math.log((cnts.get(p, 0) + 1) / denom), 6) for p in keep
        }

    logp = estimate(select(counts, seed_mult * vocab_size), counts)

    # 2-4. hard-EM: Viterbi counts -> prune -> re-estimate
    n_multi = max(vocab_size - len(chars), 0)
    for _ in range(em_iters):
        vit = _make_viterbi(logp, max_piece_len)
        em_counts: dict[str, int] = {}
        for word, freq in word_freqs:
            for tok in vit(word):
                em_counts[tok] = em_counts.get(tok, 0) + freq
        logp = estimate(select(em_counts, n_multi), em_counts)
    return sorted(logp.items())
