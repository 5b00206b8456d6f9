"""WordPiece subword tokenizer (Schuster & Nakajima 2012; the BERT
tokenizer, Devlin et al. 2019 §A) — the third production tokenizer next
to BPE (operators/bpe.py) and Unigram-LM (operators/unigram.py),
completing the family: BPE merges bottom-up by pair FREQUENCY, WordPiece
merges bottom-up by pair LIKELIHOOD (score = count(ab) / (count(a) *
count(b)) — the merge that most increases a unigram LM's corpus
likelihood), and applies by greedy longest-match-first rather than by
merge-rank replay.

Training (the public algorithm, as implemented by the HuggingFace
``tokenizers`` WordPiece trainer):

1. split every word into characters — first char plain, the rest with
   the ``##`` continuation prefix (so ``word`` -> ``w ##o ##r ##d``);
   the alphabet (both forms) is always in the vocabulary;
2. repeatedly merge the adjacent pair maximizing
   ``count(pair) / (count(first) * count(second))``, scored EXACTLY
   (Fraction comparison — no float ladder, so ties are real ties) with
   deterministic tie-breaks (higher pair count, then lexicographic);
3. stop at ``vocab_size`` pieces (or when no pair repeats); merged
   pieces longer than ``max_piece_len`` content chars are skipped so the
   greedy matcher's scan depth stays a configuration constant.

Apply is BERT's greedy longest-match-first: at each position take the
LONGEST vocabulary piece that matches (continuation positions look up
``## + substring``); if no piece matches at some position the WHOLE word
becomes ``[UNK]`` (the BERT convention). Because the alphabet is always
kept, words over the training alphabet never hit UNK — only genuinely
novel characters do.

Scale shape (100 TB): identical to the BPE/unigram discipline — training
runs on the bounded word-frequency table (<= vocab_cap rows, one
TakeOrderedAndProject collect); apply is the shared distinct-word path of
operators.text (``doc_token_counts`` / ``word_tokens``) with
:func:`_make_wordpiece` as the segmenter (one word explode, one broadcast
join of (word, n_tok) ints, one doc-keyed aggregation); Python only ever
touches the vocabulary-sized distinct-word table, never the corpus.
Greedy matching is O(|word| * max_piece_len) per DISTINCT word —
corpus-size-independent per-word cost, vocabulary lookups O(1) via the
closure's set.

The DuckDB oracle replays the greedy matcher step-for-step from the
persisted vocabulary (plans/dataprep.py WORDPIECE oracles), so every
segmentation is bit-checked cross-engine, not just the counts' plumbing.
"""

from __future__ import annotations

WORDPIECE_VOCAB_SIZE = 512
WORDPIECE_MAX_PIECE_LEN = 8  # content chars (excluding the ## prefix)
WORDPIECE_UNK = "[UNK]"


def _make_wordpiece(
    vocab: set[str] | dict,
    max_piece_len: int = WORDPIECE_MAX_PIECE_LEN,
    unk: str = WORDPIECE_UNK,
):
    """THE greedy longest-match-first segmenter ``word -> list[piece]``,
    built once per vocabulary (the unigram._make_viterbi factory
    discipline: one closure cloudpickle ships by value into the shared
    distinct-word apply's Arrow batch body — no inlined twin to drift)."""
    vset = set(vocab)

    def wp(word: str) -> list:
        toks: list = []
        i, n = 0, len(word)
        while i < n:
            end = min(n, i + max_piece_len)
            j = end
            prefix = "" if i == 0 else "##"
            while j > i:
                cand = prefix + word[i:j]
                if cand in vset:
                    break
                j -= 1
            if j == i:
                return [unk]  # BERT: unmatchable position -> whole word UNK
            toks.append(prefix + word[i:j])
            i = j
        return toks

    return wp


def wordpiece_tokens_py(
    word: str,
    vocab: set[str] | list,
    max_piece_len: int = WORDPIECE_MAX_PIECE_LEN,
) -> list[str]:
    """One-shot wrapper over :func:`_make_wordpiece` (batch callers build
    the closure once)."""
    return _make_wordpiece(set(vocab), max_piece_len)(word)


def train_wordpiece_py(
    word_freqs: list[tuple[str, int]],
    vocab_size: int = WORDPIECE_VOCAB_SIZE,
    max_piece_len: int = WORDPIECE_MAX_PIECE_LEN,
) -> list[tuple[str, int]]:
    """Likelihood-scored merge training over a (word, freq) table (module
    docstring). Returns ``(piece, rank)`` pairs sorted by piece — rank 0
    for the alphabet (both plain and ``##`` forms), rank i for the i-th
    merge. Deterministic: pair scores compare as EXACT rationals
    (count(ab)/(count(a)*count(b)) via cross-multiplication), ties break
    on higher pair count then lexicographic pair."""
    seqs: list[list[str]] = []
    freqs: list[int] = []
    for word, freq in word_freqs:
        if not word:
            continue
        seqs.append([word[0]] + ["##" + c for c in word[1:]])
        freqs.append(freq)

    sym_counts: dict[str, int] = {}
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, seq in enumerate(seqs):
        f = freqs[wi]
        for s in seq:
            sym_counts[s] = sym_counts.get(s, 0) + f
        for a, b in zip(seq, seq[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + f
            pair_words.setdefault((a, b), set()).add(wi)

    def content_len(sym: str) -> int:
        return len(sym) - 2 if sym.startswith("##") else len(sym)

    vocab: dict[str, int] = {s: 0 for s in sorted(sym_counts)}
    rank = 0
    while len(vocab) < vocab_size:
        best_pair = None
        best_num = best_den = best_cnt = 0
        for pair, cnt in pair_counts.items():
            if cnt <= 0:
                continue
            a, b = pair
            if content_len(a) + content_len(b) > max_piece_len:
                continue
            den = sym_counts[a] * sym_counts[b]
            # exact rational compare: cnt/den vs best_num/best_den
            if best_pair is None:
                better = True
            else:
                lhs, rhs = cnt * best_den, best_num * den
                better = lhs > rhs or (
                    lhs == rhs
                    and (cnt > best_cnt or (cnt == best_cnt and pair < best_pair))
                )
            if better:
                best_pair, best_num, best_den, best_cnt = pair, cnt, den, cnt
        if best_pair is None:
            break
        a, b = best_pair
        merged = a + b[2:]
        # Two different pairs can in principle produce the same merged
        # string across iterations; the piece keeps its FIRST rank (a
        # re-assignment would silently punch a gap in the persisted rank
        # sequence and stall vocab growth — code-review r11). The pair is
        # still consumed from the sequences below either way.
        if merged not in vocab:
            rank += 1
            vocab[merged] = rank
        # rebuild bookkeeping only for words containing the merged pair
        for wi in sorted(pair_words.get(best_pair, ())):
            seq, f = seqs[wi], freqs[wi]
            for s in seq:
                sym_counts[s] -= f
            for p in zip(seq, seq[1:]):
                pair_counts[p] -= f
                ws = pair_words.get(p)
                if ws is not None:
                    ws.discard(wi)
            new_seq: list[str] = []
            i = 0
            while i < len(seq):
                if i + 1 < len(seq) and (seq[i], seq[i + 1]) == best_pair:
                    new_seq.append(merged)
                    i += 2
                else:
                    new_seq.append(seq[i])
                    i += 1
            seqs[wi] = new_seq
            for s in new_seq:
                sym_counts[s] = sym_counts.get(s, 0) + f
            for p in zip(new_seq, new_seq[1:]):
                pair_counts[p] = pair_counts.get(p, 0) + f
                pair_words.setdefault(p, set()).add(wi)
    return sorted(vocab.items())
