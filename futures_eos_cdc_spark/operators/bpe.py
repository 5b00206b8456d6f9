"""Byte-pair-encoding subword tokenizer: seeded merge-table training plus a
scan-shaped, JVM-only apply producing EXACT token counts.

Every other token-denominated operator in the engine (token_blocks,
token_budget_mixture, doc_chunks, corpus_token_stats) budgets in whitespace
tokens or the regex pre-tokenizer estimate (text.subword_count_expr); a real
training-data pipeline budgets in *tokenizer* tokens, which differ by
1.3-2x on real text. This module implements the public BPE algorithm
(Sennrich, Haddow & Birch 2016, "Neural Machine Translation of Rare Words
with Subword Units" — the subword-nmt formulation) with fully deterministic,
data-derived decisions so the DuckDB oracle can replay training AND apply
bit-exactly:

- training operates on the word-frequency table (one corpus-wide
  aggregation — the only data-sized pass), capped to the ``vocab_cap`` most
  frequent words (ties broken lexicographically). The capped table is
  BOUNDED by construction, so collecting it to the driver is the same
  documented pattern as IVF's centroid init (TakeOrderedAndProject of at
  most ``vocab_cap`` rows) — 40 Spark jobs over a vocabulary-sized table
  would be pure scheduling overhead, while the corpus-sized work stays
  distributed;
- each merge step picks the adjacent symbol pair with the highest
  frequency-weighted count (counting every adjacent position, overlaps
  included), ties broken by (lhs, rhs) codepoint order — both Python and
  DuckDB's binary VARCHAR collation compare UTF-8 this way;
- merges apply LEFTMOST-FIRST, NON-OVERLAPPING — exactly the semantics of
  SQL ``replace()`` over the separator-wrapped symbol string (below), so
  Spark, DuckDB, and the pure-Python reference implementation agree by
  construction;
- apply is SEQUENTIAL-BY-RANK: merge 1 is exhausted before merge 2 is
  considered, etc. This is the standard streaming formulation and equals
  the priority-queue formulation except in pathological vocabularies where
  a later merge re-creates an earlier merge's token string via a different
  split (documented variant; the parity tests pin OUR semantics).

The symbol-string encoding that makes ``replace()`` safe: a token list
``[t1, t2, ...]`` is stored as ``SEP t1 SEP SEP t2 SEP ...`` — every token
carries its OWN leading and trailing separator, so occurrences of the
pattern ``SEP lhs SEP SEP rhs SEP`` can never share characters and
"replace all, left to right" is exactly "merge leftmost-first
non-overlapping". End-of-word is the single-char symbol EOW appended to
every word (so merges learn word-final units, per the paper).

Two apply shapes, picked by merge-table size (r8 VERDICT next #1):

- **replace-chain projection** (:func:`doc_bpe_token_counts`): a chain of
  ``n_merges`` JVM ``replace`` calls inside ``transform()`` over the words
  array — pure whole-stage-codegen projection, NO shuffle, no Python.
  Zero extra exchanges, but the nested-expression depth caps it at a few
  hundred ranks (plan/codegen size limits) — the toy-vocab regime.
- **distinct-words join-back** (:func:`doc_bpe_token_counts_joined`): the
  corpus_token_stats shape — tokenize DISTINCT words in Arrow batches
  (:func:`bpe_word_token_counts`, running :func:`apply_bpe_str`, the
  pytest-pinned string twin of the reference), join counts back on word,
  aggregate per doc. Corpus-side cost is n_merges-INDEPENDENT (one
  explode + one word-keyed join + one doc-keyed agg); the tokenizer runs
  once per distinct word. This is the production shape: an 8-32 k-merge
  vocabulary is a few hundred KB of closure data and vocabulary-sized
  Python work.

Reference parity: the reference pipeline has no subword tokenizer (its
token accounting is whitespace-based); this operator is part of the
beyond-reference LLM-training-data surface (r7 VERDICT #1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens_expr

SEP = "\x1f"  # token-boundary separator inside symbol strings
EOW = "\x17"  # end-of-word symbol (single char, own token)
_SENTINEL = "\x02"  # never-matching replace pattern for exhausted ranks

BPE_N_MERGES = 40
BPE_MIN_PAIR_FREQ = 2
BPE_VOCAB_CAP = 65536
# words containing any marker char cannot round-trip the symbol encoding;
# they are excluded from BOTH training and counting (and from the oracle)
_MARKERS = (SEP, EOW, _SENTINEL)


# ---------------------------------------------------------------------------
# Pure-Python reference implementation (training + apply) — used by the
# Spark trainer after the bounded collect, and directly by parity tests.
# ---------------------------------------------------------------------------
def _merge_pair(symbols: list[str], lhs: str, rhs: str) -> list[str]:
    """Merge every leftmost-first, non-overlapping (lhs, rhs) adjacency —
    the list-level twin of ``replace(sym, SEP lhs SEP SEP rhs SEP, ...)``."""
    out: list[str] = []
    i = 0
    n = len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == lhs and symbols[i + 1] == rhs:
            out.append(lhs + rhs)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def train_bpe_py(
    word_freqs: list[tuple[str, int]],
    n_merges: int = BPE_N_MERGES,
    min_pair_freq: int = BPE_MIN_PAIR_FREQ,
) -> list[tuple[str, str, int]]:
    """Train the merge table on a (word, freq) list. Returns
    ``[(lhs, rhs, pair_freq), ...]`` in rank order (rank = 1-based index).
    Deterministic: max frequency-weighted adjacent-pair count (every
    adjacent position counted, overlaps included), ties broken by smallest
    (lhs, rhs)."""
    syms = {w: [*w, EOW] for w, _ in word_freqs}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, f in word_freqs:
            s = syms[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (lhs, rhs), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_pair_freq:
            break
        merges.append((lhs, rhs, c))
        for w in syms:
            syms[w] = _merge_pair(syms[w], lhs, rhs)
    return merges


def apply_bpe_py(word: str, merges: list[tuple[str, str, int]] | list[tuple[str, str]]) -> list[str]:
    """Tokenize one word with a trained merge table (sequential-by-rank,
    leftmost-first non-overlapping) — the reference for the SQL/Spark
    replace-chain apply. Walks CODEPOINTS (Python strings) — and so do
    DuckDB's RE2 regexp AND the JVM replace-chain (java.util.regex
    matches ``.`` per code point, measured: an astral-plane word
    tokenizes identically through all paths; pinned by
    tests/test_bpe.py::test_non_bmp_boundary)."""
    syms = [*word, EOW]
    for m in merges:
        syms = _merge_pair(syms, m[0], m[1])
    return syms


def _merge_pats(merges) -> list[tuple[str, str]]:
    """Rank-ordered (pattern, replacement) pairs over the separator
    encoding — ``str.replace`` on these IS leftmost-first non-overlapping
    merging (module docstring), identically in Python, Spark ``replace``
    and DuckDB ``replace``."""
    return [
        (SEP + m[0] + SEP + SEP + m[1] + SEP, SEP + m[0] + m[1] + SEP)
        for m in merges
    ]


def _encode_word_py(word: str) -> str:
    return "".join(SEP + c + SEP for c in word) + SEP + EOW + SEP


def apply_bpe_str(word: str, pats: list[tuple[str, str]]) -> str:
    """Sequential-by-rank apply on the separator-encoded SYMBOL STRING —
    the exact string-level twin of :func:`apply_bpe_py` (pytest-pinned),
    but each rank is one C-level substring scan instead of a Python list
    walk, so a production-sized merge table (8-32 k ranks) costs
    n_merges short ``in`` checks per word; most ranks are absent from
    any given word and cost only the failed scan."""
    s = _encode_word_py(word)
    for pat, repl in pats:
        if pat in s:
            s = s.replace(pat, repl)
    return s


def _make_ranked_word_apply(merges, eow: str = EOW):
    """Build the pair-indexed per-word tokenizer for one merge table and
    return a closure ``word -> list[token]`` — THE single implementation
    of the ranked apply (r9 VERDICT next #1, the subword-nmt/GPT-2
    production shape): :func:`apply_bpe_ranked` and both Arrow batch
    bodies call the closure this factory returns, so the semantics live
    in exactly one place (code-review r10 — four textual copies would
    let a future fix silently diverge from the pytest-pinned twins).

    Instead of giving every rank a turn (one failed substring scan per
    ABSENT rank — :func:`apply_bpe_str` is rank-count-LINEAR, 32 k scans
    per word at 32 k ranks), look up only the pairs PRESENT in this word
    in a pair→rank index and process their ranks in ascending order off
    a heap. Cost is O(word_len · merges_performed) — INDEPENDENT of the
    table size.

    Semantics are EXACTLY :func:`apply_bpe_py`'s sequential-by-rank,
    leftmost-first non-overlapping (pytest-pinned on trained and
    synthetic tables): each rank gets at most ONE turn, in rank order. A
    rank whose pair is absent at its turn never merges later even if the
    pair re-forms (the ``pushed`` set), and a pair re-formed by an
    EARLIER merge gets its not-yet-passed ranks pushed by the post-merge
    rescan — so the symbol state at every rank's turn equals the
    sequential walk's, by induction. (For TRAINED tables the two
    formulations coincide anyway: a rule consuming a composite token
    always ranks after the rule that created it. Duplicate pairs at
    several ranks are legal in arbitrary tables — each rank keeps its
    own turn via the per-pair rank LIST.)

    Shipping discipline: the returned closure is DYNAMICALLY created, so
    cloudpickle serializes it BY VALUE (its cells: the ranks dict, the
    pair list, ``eow``, and stdlib functions) — workers never need this
    package importable, the rule the str closures follow by
    inlining."""
    from bisect import bisect_right
    from heapq import heappop, heappush

    pairs = [(m[0], m[1]) for m in merges]
    ranks: dict = {}
    for i, p in enumerate(pairs):
        ranks.setdefault(p, []).append(i + 1)

    def apply_word(w: str) -> list:
        syms = [*w, eow]
        heap: list = []
        pushed: set = set()

        def scan(lo: int) -> None:
            # push, per adjacent pair, its smallest not-yet-passed rank
            for i in range(len(syms) - 1):
                rs = ranks.get((syms[i], syms[i + 1]))
                if rs is None:
                    continue
                j = bisect_right(rs, lo)
                if j < len(rs) and rs[j] not in pushed:
                    pushed.add(rs[j])
                    heappush(heap, rs[j])

        scan(0)
        while heap:
            r = heappop(heap)
            lhs, rhs = pairs[r - 1]
            out: list = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
            scan(r)
        return syms

    return apply_word


def apply_bpe_ranked(word: str, merges, _apply=None) -> list[str]:
    """One-word convenience wrapper over :func:`_make_ranked_word_apply`
    (semantics and cost model documented there). ``_apply`` is the
    prebuilt factory closure — pass it when applying one table to many
    words, as the Arrow batch bodies and the parity tests do (building
    the rank index is O(table) and must not repeat per word)."""
    return (_make_ranked_word_apply(merges) if _apply is None else _apply)(word)


# Measured crossover between the two per-word applies (BENCH_NOTES r10,
# 14-char words): str/ranked µs-per-word 9.7/8.0 at 64 ranks, 66/43 at
# 1k, 295/40 at 4k, 800/41 at 16k — ranked is FLAT in table size (the
# complexity-class pytest pins <4x from 1k→16k; measured ~1.0x), str is
# rank-linear by construction. The crossover is shallow and sits below
# 64; str keeps a small edge only for toy tables where both are
# microseconds.
BPE_APPLY_AUTO_THRESHOLD = 64


def _resolve_apply_shape(apply_shape: str, n_merges: int) -> str:
    if apply_shape == "auto":
        return "ranked" if n_merges > BPE_APPLY_AUTO_THRESHOLD else "str"
    if apply_shape not in ("str", "ranked"):
        raise ValueError(
            f"apply_shape={apply_shape!r}; expected 'auto' | 'str' | 'ranked'"
        )
    return apply_shape


def train_bpe_py_fast(
    word_freqs: list[tuple[str, int]],
    n_merges: int = BPE_N_MERGES,
    min_pair_freq: int = BPE_MIN_PAIR_FREQ,
) -> list[tuple[str, str, int]]:
    """:func:`train_bpe_py` with incremental pair-count maintenance (the
    standard subword-nmt optimization, Sennrich 2016 release notes):
    after each merge only the words CONTAINING the merged pair recount,
    via a pair → word-index inverted index. Bit-identical decisions to
    the naive trainer (pytest-pinned on random vocabularies): counts are
    the same integers, ties break on the same (lhs, rhs) order. Makes
    production-sized n_merges (>=1000) vocabulary-cost instead of
    vocab x n_merges cost."""
    words = [list(w) + [EOW] for w, _ in word_freqs]
    freqs = [f for _, f in word_freqs]
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, s in enumerate(words):
        f = freqs[wi]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            counts[p] = counts.get(p, 0) + f
            where.setdefault(p, set()).add(wi)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        if not counts:
            break
        (lhs, rhs), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_pair_freq:
            break
        merges.append((lhs, rhs, c))
        for wi in sorted(where.get((lhs, rhs), ())):
            old = words[wi]
            new = _merge_pair(old, lhs, rhs)
            if new == old:
                continue
            f = freqs[wi]
            for s in (old, new):
                sign = -f if s is old else f
                for i in range(len(s) - 1):
                    p = (s[i], s[i + 1])
                    nc = counts.get(p, 0) + sign
                    if nc:
                        counts[p] = nc
                    else:
                        counts.pop(p, None)
                    if sign > 0:
                        where.setdefault(p, set()).add(wi)
            words[wi] = new
        # stale `where` entries (word no longer contains a pair) are fine:
        # the recount above re-derives counts from the word lists, and a
        # stale index hit merely re-scans an unchanged word (new == old).
    return merges


# ---------------------------------------------------------------------------
# Spark: corpus word frequencies (the distributed pass) + driver training
# ---------------------------------------------------------------------------
def _clean_words(text_col: Column) -> Column:
    """Whitespace tokens with marker-bearing words removed (cannot
    round-trip the symbol encoding; the oracle applies the same filter)."""
    return F.filter(
        tokens_expr(text_col),
        lambda w: ~(
            w.contains(SEP) | w.contains(EOW) | w.contains(_SENTINEL)
        ),
    )


def word_freq_table(
    docs: DataFrame, text_col: str = "text", cap: int = BPE_VOCAB_CAP,
    clean: bool = True,
) -> DataFrame:
    """(word, freq): corpus word frequencies, capped to the ``cap`` most
    frequent (ties by word). ONE corpus-sized aggregation (map-side
    combined on word) + TakeOrderedAndProject — the bounded table training
    runs on. ``clean=False`` keeps marker-bearing words (the byte-level
    family, whose alphabet round-trips everything)."""
    arr = _clean_words(F.col(text_col)) if clean else tokens_expr(
        F.col(text_col)
    )
    words = docs.filter(F.col(text_col).isNotNull()).select(
        F.explode(arr).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "word")
        .limit(cap)
    )


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = BPE_N_MERGES,
    min_pair_freq: int = BPE_MIN_PAIR_FREQ,
    vocab_cap: int = BPE_VOCAB_CAP,
) -> list[tuple[str, str, int]]:
    """Train on a documents DataFrame: distributed word-freq aggregation,
    then the bounded driver-side merge loop (module docstring: the collect
    is TakeOrderedAndProject of ≤ vocab_cap rows, the IVF-init pattern)."""
    wf = [
        (r["word"], r["freq"])
        for r in word_freq_table(docs, text_col, vocab_cap).collect()
    ]
    # collect() order is the sort order here, but training must not depend
    # on it: the pair-count loop is order-insensitive (sum over words) and
    # ties break on pair content only. The fast trainer is bit-identical
    # to train_bpe_py (pytest-pinned) with incremental pair counts, so
    # production n_merges (>=1000) stays vocabulary-cost.
    return train_bpe_py_fast(wf, n_merges, min_pair_freq)


# ---------------------------------------------------------------------------
# Spark: scan-shaped apply (JVM expressions only)
# ---------------------------------------------------------------------------
def encode_word_expr(word: Column) -> Column:
    """word → initial symbol string: every char SEP-wrapped + the EOW
    symbol. ``regexp_replace`` with '(.)' wraps per CODEPOINT in both
    engines — java.util.regex matches ``.`` per code point (measured:
    astral-plane words encode identically through Java and RE2; pinned
    by tests/test_bpe.py::test_non_bmp_boundary)."""
    return F.concat(
        F.regexp_replace(word, "(.)", SEP + "$1" + SEP), F.lit(SEP + EOW + SEP)
    )


def bpe_sym_expr(word: Column, merges: list[tuple[str, str, int]] | list[tuple[str, str]]) -> Column:
    """The replace chain: apply each merge in rank order over the symbol
    string. n_merges nested JVM ``replace`` calls — whole-stage codegen,
    no Python, no shuffle."""
    sym = encode_word_expr(word)
    for m in merges:
        lhs, rhs = m[0], m[1]
        sym = F.replace(
            sym,
            F.lit(SEP + lhs + SEP + SEP + rhs + SEP),
            F.lit(SEP + lhs + rhs + SEP),
        )
    return sym


def bpe_tokens_expr(word: Column, merges) -> Column:
    """array<string> of BPE tokens for one word."""
    return F.filter(F.split(bpe_sym_expr(word, merges), SEP), lambda t: t != "")


def bpe_token_count_expr(word: Column, merges) -> Column:
    """Exact BPE token count for one word: every token in the symbol
    string carries exactly 2 separators."""
    sym = bpe_sym_expr(word, merges)
    return (
        (F.length(sym) - F.length(F.replace(sym, F.lit(SEP), F.lit("")))) / 2
    ).cast("long")


def bpe_word_token_counts(
    words_df: DataFrame, merges, word_col: str = "word",
    apply_shape: str = "auto", pre=None,
) -> DataFrame:
    """(word, n_tok): exact BPE token counts for a table of DISTINCT
    words — the vocabulary-shaped half of the join-based apply
    (:func:`doc_bpe_token_counts_joined`). Arrow ``mapInPandas``: the
    merge table rides the closure (a few hundred KB even at 32 k ranks
    — far below broadcast limits). Python touches only the distinct-word
    table, never the corpus — the corpus_token_stats discipline the
    module docstring names as the 100 TB shape.

    ``apply_shape`` picks the per-word tokenizer (both pytest-pinned
    twins of :func:`apply_bpe_py`): ``'str'`` runs the string-level
    sequential apply (:func:`apply_bpe_str` — one C substring scan per
    rank, fastest for small tables), ``'ranked'`` runs the pair-indexed
    apply (:func:`apply_bpe_ranked` — cost flat in table size, the
    production shape at 8-32 k ranks; r9 VERDICT next #1). ``'auto'``
    switches on the measured crossover (:data:`BPE_APPLY_AUTO_THRESHOLD`).

    ``pre``: optional word→str transform applied before the symbol
    encoding, inside the batch body — the byte-level family passes the
    bytes→unicode map here (code review r13: ONE tokenizer
    implementation, the byte variant is a pre-map, not a copy). Must be
    a self-contained closure (cloudpickle ships it by value)."""
    shape = _resolve_apply_shape(apply_shape, len(merges))
    sep, eow = SEP, EOW

    # fully self-contained nested closures: cloudpickle ships them by
    # VALUE (dynamically created functions always are), so workers never need
    # this package importable on their own sys.path. Each body is its
    # module-level twin inlined — parity pytests pin them together.
    if shape == "str":
        pats = _merge_pats(merges)

        def tok(batches):
            import pandas as _pd

            def n_tok(w: str) -> int:
                if pre is not None:
                    w = pre(w)
                s = "".join(sep + c + sep for c in w) + sep + eow + sep
                for pat, repl in pats:
                    if pat in s:
                        s = s.replace(pat, repl)
                return s.count(sep) // 2

            for pdf in batches:
                ws = pdf[word_col]
                yield _pd.DataFrame(
                    {word_col: ws, "n_tok": [n_tok(w) for w in ws]}
                )

    else:
        # ONE implementation: the factory's dynamic closure ships by
        # value inside this batch body (factory docstring) — no package
        # import on workers, no textual copy of the heap walk here
        apply_w = _make_ranked_word_apply(merges, eow)

        def tok(batches):
            import pandas as _pd

            def n_tok(w: str) -> int:
                return len(apply_w(w if pre is None else pre(w)))

            for pdf in batches:
                ws = pdf[word_col]
                yield _pd.DataFrame(
                    {word_col: ws, "n_tok": [n_tok(w) for w in ws]}
                )

    return words_df.select(word_col).mapInPandas(
        tok, schema=f"{word_col} string, n_tok long"
    )


def bpe_word_tokens(
    words_df: DataFrame, merges, word_col: str = "word",
    apply_shape: str = "auto",
) -> DataFrame:
    """(word, toks array<string>): the token LISTS for a table of
    DISTINCT words — :func:`bpe_word_token_counts`'s sibling for
    consumers that need the subwords themselves (vocabulary reports,
    OOV audits), same vocabulary-shaped Arrow scale shape, the same
    self-contained-closure discipline, and the same ``apply_shape``
    rungs (str / ranked / auto)."""
    shape = _resolve_apply_shape(apply_shape, len(merges))
    sep, eow = SEP, EOW

    if shape == "str":
        pats = _merge_pats(merges)

        def tok(batches):
            import pandas as _pd

            def toks(w: str) -> list[str]:
                s = "".join(sep + c + sep for c in w) + sep + eow + sep
                for pat, repl in pats:
                    if pat in s:
                        s = s.replace(pat, repl)
                return [t for t in s.split(sep) if t]

            for pdf in batches:
                ws = pdf[word_col]
                yield _pd.DataFrame(
                    {word_col: ws, "toks": [toks(w) for w in ws]}
                )

    else:
        # same single-implementation discipline as bpe_word_token_counts
        apply_w = _make_ranked_word_apply(merges, eow)

        def tok(batches):
            import pandas as _pd

            for pdf in batches:
                ws = pdf[word_col]
                yield _pd.DataFrame(
                    {word_col: ws, "toks": [apply_w(w) for w in ws]}
                )

    return words_df.select(word_col).mapInPandas(
        tok, schema=f"{word_col} string, toks array<string>"
    )


def doc_bpe_token_counts_joined(
    docs: DataFrame,
    merges,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
    broadcast_vocab: bool = True,
    apply_shape: str = "auto",
    clean: bool = True,
    pre=None,
) -> DataFrame:
    """(doc_id, n_words, n_tokens, fertility) — same output contract as
    :func:`doc_bpe_token_counts`, but apply runs over DISTINCT words and
    joins back (the module-docstring alternative the r8 VERDICT asked to
    build): the replace-chain projection is a chain of ``n_merges``
    nested JVM expressions, which cannot reach a production 8-32 k-merge
    vocabulary (plan/codegen size limits at a few hundred ranks), while
    this shape is n_merges-INDEPENDENT on the corpus side — one word
    explode, one word-keyed join, one doc-keyed aggregation; the
    tokenizer itself runs once per distinct word (vocabulary-shaped
    Arrow batch work, :func:`bpe_word_token_counts`).

    ``broadcast_vocab=True`` broadcasts the (word, n_tok) table — right
    while the tokenized vocabulary fits the broadcast budget (tens of
    MB covers millions of words: two small columns). At web-corpus
    vocabularies (1e8+ distinct words) set it False for a shuffle join
    on ``word``; the doc-keyed aggregation behind it is unchanged.

    ``clean=False`` + ``pre`` are the byte-level hooks (code review
    r13): keep every word and pre-map it inside the tokenizer kernel —
    see :func:`doc_bpe_token_counts_bytes`."""
    words_arr = (
        _clean_words(F.col(text_col)) if clean else tokens_expr(F.col(text_col))
    )
    docs2 = docs.filter(F.col(text_col).isNotNull())
    if clean:
        # same all-marker-words guard as doc_bpe_token_counts (tokens_expr
        # never yields an empty array on non-null text, so the unclean
        # path needs no guard)
        docs2 = docs2.filter(F.size(words_arr) > 0)
    words = docs2.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.explode(words_arr).alias("word"),
    )
    wtok = bpe_word_token_counts(
        words.select("word").distinct(), merges, apply_shape=apply_shape,
        pre=pre,
    )
    if broadcast_vocab:
        wtok = F.broadcast(wtok)
    return (
        words.join(wtok, "word")
        .groupBy(id_col, *[F.col(c) for c in keep_cols])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "fertility",
            F.col("n_tokens").cast("double") / F.col("n_words"),
        )
    )


def save_bpe_merges(spark, merges, path: str) -> None:
    """Persist a trained merge table (train once per corpus, apply
    everywhere — the deployment shape). One tiny parquet table
    (merge_rank, lhs, rhs, pair_freq); rank order is the apply order."""
    rows = [(i + 1, m[0], m[1], int(m[2]) if len(m) > 2 else 0)
            for i, m in enumerate(merges)]
    spark.createDataFrame(
        rows, "merge_rank int, lhs string, rhs string, pair_freq long"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_bpe_merges(spark, path: str) -> list[tuple[str, str, int]]:
    """Load a merge table saved by :func:`save_bpe_merges`, in rank order."""
    return [
        (r["lhs"], r["rhs"], r["pair_freq"])
        for r in spark.read.parquet(path).orderBy("merge_rank").collect()
    ]


def doc_bpe_token_counts(
    docs: DataFrame,
    merges,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, n_words, n_tokens, fertility): exact BPE token counts per
    document — the scan-shaped apply. ``transform`` maps the count
    expression over the words array and ``aggregate`` folds the sum, so
    the whole thing is ONE projection: no explode, no shuffle, no Python.
    fertility = tokens per word (int/int → correctly-rounded double in
    any engine — the corpus_token_stats discipline)."""
    words = _clean_words(F.col(text_col))
    n_tokens = F.aggregate(
        F.transform(words, lambda w: bpe_token_count_expr(w, merges)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        docs.filter(F.col(text_col).isNotNull())
        # a doc whose words were ALL marker-bearing has no countable words;
        # the oracle's join drops it too (and fertility would be 0/0)
        .filter(F.size(words) > 0)
        .select(
            F.col(id_col),
            *[F.col(c) for c in keep_cols],
            F.size(words).cast("long").alias("n_words"),
            n_tokens.alias("n_tokens"),
        )
        .withColumn(
            "fertility",
            F.col("n_tokens").cast("double") / F.col("n_words"),
        )
    )


# ---------------------------------------------------------------------------
# BYTE-level BPE (the GPT-2/tiktoken shape — Radford et al. 2019; the
# bytes_to_unicode bijection published in openai/gpt-2 encoder.py): the
# initial alphabet is the 256 BYTE values of the word's UTF-8 encoding,
# so NO word is ever excluded and no token is ever UNK — the char-level
# family above drops marker-bearing words (they cannot round-trip the
# separator encoding), while here every byte, including SEP/EOW/control
# bytes themselves, maps to a printable stand-in codepoint first.
#
# The bijection maps each byte to ONE visible BMP codepoint (printable
# latin-1 bytes map to themselves; the 68 others shift to 256+n in byte
# order), which makes byte-level BPE EXACTLY char-level BPE over the
# byte-mapped string: training, the ranked/str applies, the separator
# encoding, and the DuckDB replay all reuse the machinery above
# unchanged. r12 VERDICT next #5.
# ---------------------------------------------------------------------------
def _bytes_to_unicode() -> list[str]:
    """BYTE_CHARS[b] = the stand-in codepoint for byte b (GPT-2 table):
    bytes 33-126, 161-172, 174-255 map to chr(b); the remaining 68 map to
    chr(256+n), n assigned in ascending byte order. All stand-ins are BMP
    (max U+0143), so every string op downstream is surrogate-safe."""
    keep = (
        list(range(33, 127)) + list(range(161, 173)) + list(range(174, 256))
    )
    out: list[str] = []
    n = 0
    for b in range(256):
        if b in keep:
            out.append(chr(b))
        else:
            out.append(chr(256 + n))
            n += 1
    return out


BYTE_CHARS = _bytes_to_unicode()


def byte_encode_py(word: str) -> str:
    """word → its UTF-8 bytes, each mapped through BYTE_CHARS. Injective
    (UTF-8 is), so the (word, freq) table and the (byte_word, freq) table
    are 1:1. Spark strings are valid UTF-8 by construction (parquet/Arrow
    enforce it), so strict encode() cannot fail on engine data; a lone
    surrogate smuggled in driver-side raises the clear UnicodeEncodeError
    rather than silently diverging from the SQL oracle's encode()."""
    return "".join(BYTE_CHARS[b] for b in word.encode("utf-8"))


def _byte_pre():
    """The bytes→unicode pre-map as a SELF-CONTAINED closure (only the
    BYTE_CHARS list rides the cells), shippable by value into the
    tokenizer batch bodies — the single place the byte mapping runs."""
    bc = BYTE_CHARS

    def pre(w: str) -> str:
        return "".join(bc[b] for b in w.encode("utf-8"))

    return pre


def word_freq_table_bytes(
    docs: DataFrame, text_col: str = "text", cap: int = BPE_VOCAB_CAP
) -> DataFrame:
    """(word, freq) over RAW words — :func:`word_freq_table` WITHOUT the
    marker-word exclusion (the byte path never needs one). The cap's
    freq/word tie-break orders RAW words (binary collation — identical in
    Spark, Python and DuckDB); the byte mapping is applied AFTER the cap,
    driver-side, so which words survive the cap boundary is engine-
    independent (the mapped strings do NOT sort like their sources)."""
    return word_freq_table(docs, text_col, cap, clean=False)


def train_bpe_bytes(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = BPE_N_MERGES,
    min_pair_freq: int = BPE_MIN_PAIR_FREQ,
    vocab_cap: int = BPE_VOCAB_CAP,
) -> list[tuple[str, str, int]]:
    """Byte-level training: the same bounded word-freq collect as
    :func:`train_bpe`, mapped through :func:`byte_encode_py`, then the
    identical incremental trainer — merges are over byte-char symbols.
    Nothing is filtered: the 256-byte alphabet covers every input."""
    wf = [
        (byte_encode_py(r["word"]), r["freq"])
        for r in word_freq_table_bytes(docs, text_col, vocab_cap).collect()
    ]
    return train_bpe_py_fast(wf, n_merges, min_pair_freq)


def bpe_word_token_counts_bytes(
    words_df: DataFrame, merges, word_col: str = "word",
    apply_shape: str = "auto",
) -> DataFrame:
    """(word, n_tok) for DISTINCT RAW words under a byte-level merge
    table: :func:`bpe_word_token_counts` with the bytes→unicode pre-map
    — the same pinned per-word applies run over the mapped string, and
    joining back on the RAW word keeps the corpus side byte-free (the
    mapping runs once per distinct word, never per occurrence)."""
    return bpe_word_token_counts(
        words_df, merges, word_col, apply_shape, pre=_byte_pre()
    )


def doc_bpe_token_counts_bytes(
    docs: DataFrame,
    merges,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_vocab: bool = True,
    apply_shape: str = "auto",
) -> DataFrame:
    """(doc_id, n_words, n_tokens, fertility) under a BYTE-level merge
    table — :func:`doc_bpe_token_counts_joined` with the byte-level
    hooks (clean=False + the bytes→unicode pre-map): no word filter
    anywhere (every word counts), n_words is the full whitespace-token
    count, and the scale shape is inherited unchanged — one word
    explode, the mapping + tokenizer over DISTINCT words only, one
    broadcast join back, one doc-keyed aggregation."""
    return doc_bpe_token_counts_joined(
        docs,
        merges,
        id_col=id_col,
        text_col=text_col,
        broadcast_vocab=broadcast_vocab,
        apply_shape=apply_shape,
        clean=False,
        pre=_byte_pre(),
    )
