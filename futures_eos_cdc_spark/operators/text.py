"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (the reference has no document processing; these are
the ops a 100 TB corpus pipeline needs): tokenization, token counting,
quality scoring, language-ID heuristic, document fingerprinting.

Everything is built from JVM-side Column expressions (split/filter/transform/
md5) — no Python UDFs — so the hot path stays inside whole-stage codegen and
scales linearly with executors. Hash-based ops use md5 (not xxhash64) where
an external oracle must reproduce the value; production pipelines can swap
xxhash64 in via the ``hash_hex`` parameter for ~3x cheaper hashing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .common import const_array_sql, sql_expr, sql_literal

# Tiny per-language function-word lexicons for the n-gram/stopword heuristic.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "zu", "ist", "ein"),
    "en": ("the", "a", "of", "and", "in", "to", "is", "that"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "que", "en", "un", "est"),
}

STOPWORDS_EN = LANG_LEXICONS["en"]

PUNCT_CLASS = "[^.,;:!?]"  # complement — used with regexp_replace to count punct


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization of lowercased text (BPE-ish splitting can be
    layered on top with a further regexp)."""
    return F.split(F.trim(F.lower(text)), r"\s+")


# ---------------------------------------------------------------------------
# Distinct-word subword apply, shared by every tokenizer family (BPE, byte
# BPE, Unigram-LM, WordPiece): each family supplies only a per-word
# segmenter ``word -> list[str]``. Python touches the DISTINCT-word table,
# never the corpus: the corpus side is one word explode, one broadcast join
# of (word, n_tok) ints and one doc-keyed aggregation, independent of the
# vocabulary size.
# ---------------------------------------------------------------------------
def _make_word_tokens_fn(segment):
    """mapInPandas function (word) -> (word, toks). Module-level factory
    so the returned closure is dynamically created: cloudpickle ships it
    and ``segment`` (itself a factory closure) BY VALUE, so Python
    workers never import this package."""

    def tokenize(batches):
        import pandas as _pd

        for pdf in batches:
            ws = pdf["word"]
            yield _pd.DataFrame({"word": ws, "toks": [segment(w) for w in ws]})

    return tokenize


def word_tokens(words_df: DataFrame, segment) -> DataFrame:
    """(word, toks array<string>) for a table of DISTINCT words in a
    ``word`` column, in Arrow batches."""
    return words_df.select("word").mapInPandas(
        _make_word_tokens_fn(segment), "word string, toks array<string>"
    )


def doc_token_counts(
    docs: DataFrame,
    segment,
    words=tokens_expr,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, n_words, n_tokens, fertility): exact subword token
    counts per document. ``words`` maps the text column to its words
    array, evaluated once per document (in the explode). NULL text drops;
    a doc whose words array is empty (every word filtered out) explodes
    to no rows and drops too, since its fertility would be 0/0. The token
    lists shrink to ``size(toks)`` JVM-side before the broadcast join."""
    arr = words(F.col(text_col))
    occ = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), *[F.col(c) for c in keep_cols], F.explode(arr).alias("word")
    )
    wtok = word_tokens(occ.select("word").distinct(), segment).select(
        "word", F.size("toks").alias("n_tok")
    )
    return (
        occ.join(F.broadcast(wtok), "word")
        .groupBy(id_col, *keep_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .withColumn("fertility", F.col("n_tokens").cast("double") / F.col("n_words"))
    )


def ngrams_expr(arr: Column | str, k: int, sep: str = " ") -> Column:
    """Every run of ``k`` consecutive elements of ``arr``, joined by
    ``sep``, in position order (duplicates kept); an empty array when
    ``arr`` holds fewer than ``k`` elements, NULL when it is NULL.

    Linear, built from the k shifted slices ``slice(arr, j, size - k +
    1)`` and ONE lambda pass that never reads ``arr``: a ``zip_with`` of
    the two slices for bigrams, else ``arrays_zip`` of all k (a built-in
    call, no lambda) and a ``transform`` joining each tuple. Interleaved
    on 50,000 docs, 2 cores: a chain of k-1 ``zip_with``s took 1.27x the
    ``arrays_zip`` time at k=3 and 2.2x at k=8; at k=2 ``zip_with`` took
    0.91x. One parsed SQL expression (common.sql_expr): ``arr`` is a
    column name, or a Column evaluated once per row."""
    return sql_expr(lambda a: _ngrams_sql(a, k, sep), arr)


def _ngrams_sql(arr: str, k: int, sep: str = " ") -> str:
    """:func:`ngrams_expr` as SQL text over the array reference ``arr``,
    which it reads k + 1 times (a column name or a lambda parameter)."""
    if k == 1:
        return arr
    m = f"greatest(size({arr}) - {k - 1}, 0)"
    slices = [f"slice({arr}, {j}, {m})" for j in range(1, k + 1)]
    sep = sql_literal(sep)
    if k == 2:
        return f"zip_with({slices[0]}, {slices[1]}, (_a, _b) -> concat_ws({sep}, _a, _b))"
    # arrays_zip names the fields of unnamed inputs "0".."k-1"
    fields = ", ".join(f"_z['{j}']" for j in range(k))
    return f"transform(arrays_zip({', '.join(slices)}), _z -> concat_ws({sep}, {fields}))"


def word_grams_sql(t: str) -> str:
    """The unigrams then the adjacent bigrams of the token array ``t``
    (SQL text; a column name or a lambda parameter) — the wordNgrams=2
    feature set of the hashed classifier and of DSIR."""
    return f"concat({t}, {_ngrams_sql(t, 2)})"


def token_count_expr(text: Column) -> Column:
    return F.size(tokens_expr(text))


# GPT-2-style BPE pre-tokenizer split, restated lookahead-free so RE2-based
# engines (DuckDB, Go) reproduce it byte-for-byte: contractions, space-glued
# letter runs, digit runs, punctuation runs, whitespace runs.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def subword_count_expr(text: Column) -> Column:
    """BPE-ish token count: the pre-tokenizer piece count that upper-bounds a
    real BPE vocab's token count — the standard cheap budget estimator for
    LLM training-data sizing. Pure JVM regex, no Python."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_SPLIT_RE), 0))


def stopword_ratio_expr(tokens: Column, lexicon: tuple[str, ...] = STOPWORDS_EN) -> Column:
    hits = F.size(F.filter(tokens, lambda t: t.isin(*lexicon)))
    return hits / F.size(tokens)


def punct_ratio_expr(text: Column) -> Column:
    return F.length(F.regexp_replace(text, PUNCT_CLASS, "")) / F.length(text)


# ---------------------------------------------------------------------------
# Gopher rule-based quality filter (Rae et al. 2021 §A1.1) — the named rule
# set most from-scratch pipelines implement verbatim. Constants adapted to
# the fixture's scale; the expressions are shared by the registered batch
# query (plans/dataprep.py:q_gopher_quality_rules, oracle-checked) and the
# streaming selection gate (streaming/pipeline.py:selection_gate_expr).
# ---------------------------------------------------------------------------
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 10, 1000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 2.0, 12.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOPWORDS = 2
GOPHER_MIN_ALPHA_RATIO = 0.8


def gopher_metrics(text: Column) -> dict[str, Column]:
    """The five Gopher rule metrics plus the conjunction ``keep`` flag,
    as pure column expressions over one document (no join, no aggregate,
    no shuffle — scan-shaped at any scale). Callers expecting oracle
    parity must not restructure the arithmetic: the symbol-word ratio is
    punct COUNT / words DIRECTLY (routing through punct_ratio_expr and
    multiplying chars back is not IEEE-identical and can flip keep at
    the 0.1 boundary — code-review r10)."""
    toks = tokens_expr(text)
    n = F.size(toks)
    mwl = (
        F.aggregate(
            F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
        ).cast("double")
        / n
    )
    swr = F.length(F.regexp_replace(text, PUNCT_CLASS, "")).cast("double") / n
    stop_arr = const_array_sql(STOPWORDS_EN)
    n_stop = sql_expr(
        lambda t: f"size(filter({stop_arr}, _s -> array_contains({t}, _s)))", toks
    )
    awr = F.size(F.filter(toks, lambda x: x.rlike(r"\p{L}"))).cast("double") / n
    keep = (
        n.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mwl.between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
        & (swr <= GOPHER_MAX_SYMBOL_RATIO)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
        & (awr >= GOPHER_MIN_ALPHA_RATIO)
    )
    return {
        "n_words": n,
        "mean_word_len": mwl,
        "symbol_word_ratio": swr,
        "n_stop_distinct": n_stop,
        "alpha_word_ratio": awr,
        "keep": keep,
    }


def gopher_keep_expr(text: Column) -> Column:
    """The Gopher conjunction alone — the filter form for gates."""
    return gopher_metrics(text)["keep"]


def quality_score_expr(text: Column) -> Column:
    """Deterministic [0,1] quality score from length/punct/stopword ratios.

    0.4·min(1, tokens/100) + 0.3·(1 − min(1, punct_ratio·10))
    + 0.3·min(1, stopword_ratio·5) — favors long, low-punct, natural-language
    documents. The formula is mirrored verbatim in the DuckDB oracle.
    """
    toks = tokens_expr(text)
    n = F.size(toks)
    return F.round(
        F.least(F.lit(1.0), n / 100.0) * 0.4
        + (F.lit(1.0) - F.least(F.lit(1.0), punct_ratio_expr(text) * 10.0)) * 0.3
        + F.least(F.lit(1.0), stopword_ratio_expr(toks) * 5.0) * 0.3,
        6,
    )


def _in_lexicon(lexicon: tuple[str, ...]):
    # Single-arg closure: a `lambda t, lx=lex:` form would be mis-read by
    # PySpark as a two-argument (element, index) higher-order lambda.
    def f(t: Column) -> Column:
        return t.isin(*lexicon)

    return f


def lang_scores_exprs(tokens: Column) -> dict[str, Column]:
    return {
        lang: F.size(F.filter(tokens, _in_lexicon(lex)))
        for lang, lex in LANG_LEXICONS.items()
    }


def lang_id_expr(text: Column) -> Column:
    """Heuristic language ID: argmax function-word hits; ties break to the
    alphabetically-first language; zero hits → 'und' (undetermined)."""
    s = lang_scores_exprs(tokens_expr(text))
    de, en, es, fr = s["de"], s["en"], s["es"], s["fr"]
    return (
        F.when(de + en + es + fr == 0, "und")
        .when((de >= en) & (de >= es) & (de >= fr), "de")
        .when((en >= es) & (en >= fr), "en")
        .when(es >= fr, "es")
        .otherwise("fr")
    )


def shingles_expr(tokens: Column | str, k: int) -> Column:
    """Distinct k-token shingles in first-occurrence order; documents
    shorter than k tokens collapse to a single whole-document shingle (so
    every doc has ≥1 shingle). One parsed SQL expression: ``tokens`` is a
    column name, or a Column evaluated once per row (common.sql_expr)."""
    return sql_expr(lambda t: _shingles_sql(t, k), tokens)


def _shingles_sql(t: str, k: int) -> str:
    return (
        f"CASE WHEN size({t}) >= {k} THEN array_distinct({_ngrams_sql(t, k)}) "
        f"ELSE array(concat_ws(' ', {t})) END"
    )


def fingerprint_expr(text: Column, k: int = 8) -> Column:
    """Winnowing-style document fingerprint: min md5 over k-token shingles.

    Equal fingerprints are strong near-duplicate candidates (the minimum
    shingle hash is shared as long as the minimizing shingle survives edits).
    One pass over the token array, no shuffle.
    """
    return sql_expr(
        lambda t: f"array_min(transform({_shingles_sql(t, k)}, _s -> md5(_s)))",
        tokens_expr(text),
    )


def with_text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience: attach n_tokens / ratios / quality / lang_pred / fingerprint."""
    text = F.col(text_col)
    toks = tokens_expr(text)
    return (
        docs.withColumn("n_tokens", F.size(toks))
        .withColumn("n_subwords", subword_count_expr(text))
        .withColumn("stopword_ratio", F.round(stopword_ratio_expr(toks), 6))
        .withColumn("punct_ratio", F.round(punct_ratio_expr(text), 6))
        .withColumn("quality", quality_score_expr(text))
        .withColumn("lang_pred", lang_id_expr(text))
        .withColumn("fingerprint", fingerprint_expr(text))
    )


def hashed_classifier_logit_expr(text: Column, salt: str = "qw|") -> Column:
    """fastText-style hashed linear classifier score (wordNgrams=2) as ONE
    pure column expression — model inference at corpus scale with ZERO
    shuffles: features are the document's unigrams + adjacent bigrams, each
    feature's weight is read from a 16-bit hash of the feature (here derived
    from md5 so any SQL engine can replay it bit-for-bit; a production build
    substitutes a broadcast weight array indexed by the same hash — the plan
    shape is identical), and the logit is the mean weight.

    The weight sum accumulates EXACT integers (each weight ∈ [-32768, 32767])
    in a LONG, so the only floating-point step is one final IEEE division —
    bit-stable across engines and partitionings. Documents never leave their
    scan partition: score-then-filter pipelines (quality gates) stay
    scan-shaped at 100 TB.
    """
    return sql_expr(
        lambda t: f"element_at(transform(array({word_grams_sql(t)}), _fs -> "
        f"aggregate(_fs, 0L, (_acc, _w) -> _acc + CAST(conv(substring(md5(concat("
        f"{sql_literal(salt)}, _w)), 1, 4), 16, 10) AS BIGINT) - 32768) "
        f"/ ({sql_literal(32768.0)} * size(_fs))), 1)",
        tokens_expr(text),
    )
