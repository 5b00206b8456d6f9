"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Beyond-reference surface for training-data pipelines. Scale design:

- **Exact**: hash the content BEFORE the shuffle so the exchange carries a
  16-byte digest instead of whole documents; groupBy(hash) → keep min id.
- **MinHash+LSH**: per-doc signature (H hashes over k-shingles) computed in
  one projection (no shuffle); LSH bands explode to (band, key) and the ONLY
  shuffle is the self-join on band keys — candidate pairs are then verified
  with exact Jaccard. This is the standard way pairwise similarity survives
  100 TB: candidates ≪ N², and bucket skew (a viral duplicate cluster) is
  handled by AQE skew-join + an optional per-bucket cap.
- **SimHash**: one 16/64-bit signature per doc; equal signatures (or small
  Hamming distance) are near-dup candidates. Pure projection + one groupBy.

md5-based hashing keeps every value reproducible by an external SQL oracle;
production can swap xxhash64 (cheaper, JVM-intrinsic) via parameters.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .common import spread, sql_expr
from .text import shingles_expr, tokens_expr

MINHASH_HASHES = 8
LSH_BANDS = 4  # 4 bands x 2 rows: catches jaccard ≳ 0.4 pairs w.h.p.
SHINGLE_K = 3


# Live _unpersist_on_gc registrations per cached plan, keyed by
# (applicationId, semanticHash). Spark's CacheManager keeps ONE cache entry
# for plan-equal DataFrames: two results of the same operator over the same
# input persist identical subplans and share that entry, and unpersisting
# either one drops it for both. The entry is released when the last result
# holding it goes.
_CACHE_REFS: dict[tuple[str, int], int] = {}
_CACHE_REFS_LOCK = threading.RLock()


def _unpersist_on_gc(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Release persisted intermediates when `result` is garbage-collected.

    The persisted subplans are shared by several branches of `result`'s
    plan, so they cannot be unpersisted eagerly (the result is lazy). In a
    long-lived shared session the caches would otherwise accumulate across
    queries; this ties their lifetime to the result DataFrame — once the
    caller drops it, the executor memory is handed back. A cache that a
    plan-equal intermediate of another live result also holds stays until
    that result goes too (_CACHE_REFS).

    CAVEAT (cache lifetime vs derived plans): the finalizer fires on GC of
    THIS exact object. A derived DataFrame (``result.filter(...)``) holds no
    Python reference to it, so a caller that chains transformations and drops
    the original can see the shared caches released early — never wrong, but
    the dominant-cost subplan silently recomputes. Callers that chain further
    work should keep the returned handle alive until the derived work has
    executed, or release deterministically via the attached
    ``result.release_cache()`` (idempotent; also detaches the finalizer).
    """
    app = result.sparkSession.sparkContext.applicationId
    held = [((app, c.semanticHash()), c._jdf) for c in cached]
    with _CACHE_REFS_LOCK:
        for key, _ in held:
            _CACHE_REFS[key] = _CACHE_REFS.get(key, 0) + 1

    def _release() -> None:
        for key, jdf in held:
            with _CACHE_REFS_LOCK:
                left = _CACHE_REFS.get(key, 1) - 1
                if left > 0:
                    _CACHE_REFS[key] = left
                    continue
                _CACHE_REFS.pop(key, None)
            try:
                jdf.unpersist(False)
            except Exception:  # session already stopped — nothing to free
                pass

    fin = weakref.finalize(result, _release)

    def _release_now() -> None:
        if fin.detach() is not None:
            _release()

    result.release_cache = _release_now
    return result


def content_digest_expr(content_cols: list[str], df: DataFrame | None = None) -> Column:
    """THE canonical content identity every dedup operator keys on: md5 over
    the unit-separator-joined content columns. Centralized so batch and
    streaming dedup can never silently diverge on separator, hash function,
    or null handling. Pass ``df`` to disambiguate column references when
    two DataFrames are in scope (joins).

    NULLs are sentinel-encoded (``\\x00``, a byte no text column contains)
    rather than concat_ws-skipped (ADVICE r5): skipping made content with
    NULLs in different positions collide — ['a', NULL, 'b'] and
    ['a', 'b', NULL] both digested 'a\\x1fb', so multi-column dedup could
    merge genuinely different rows. Non-null single-column digests are
    unchanged (coalesce is identity there), so existing oracles that replay
    md5(text) still match.

    DIGEST VERSION NOTE (ADVICE r6): this null handling is digest scheme
    v2 (round 6+). v1 (rounds ≤5) concat_ws-SKIPPED nulls, so any
    PERSISTED artifact keyed on v1 digests of null-bearing rows — corpus
    hash stores fed to ``dedup_incremental``, streaming-dedup state,
    neardup shingle tables — will not match v2 digests for those rows;
    rebuild such stores (or re-digest their key column) when upgrading.
    Known collision by construction: a NULL column and a literal one-byte
    '\x00' value digest identically — acceptable because no text column
    contains NUL bytes; choose a different sentinel if yours can."""
    cols = [
        F.coalesce(
            (df[c] if df is not None else F.col(c)).cast("string"), F.lit("\x00")
        )
        for c in content_cols
    ]
    return F.md5(F.concat_ws("\x1f", *cols))


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per identical content; adds group size.

    The shuffle key is md5(content) — constant-width regardless of document
    size (content bytes never cross the wire twice).
    """
    h = content_digest_expr(content_cols)
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_keep_rows(
    df: DataFrame, content_cols: list[str], id_col: str
) -> DataFrame:
    """Full-row exact dedup: the kept (lowest-``id_col``) row per identical
    content, with its duplicate count — the convenience ``exact_dedup``
    deliberately does not provide (it returns only the digest→keep_id map).

    Single-shuffle formulation: one hash exchange on md5(content), then a
    row_number + count window within each hash partition. At 100 TB this
    shuffles each surviving row's payload exactly once (unavoidable — the
    output *is* the payload); the digest key keeps the exchange's
    partitioning width constant regardless of document size, and identical
    contents land in one partition so the window state per key is the tiny
    duplicate group, never the corpus.
    """
    from pyspark.sql import Window

    h = content_digest_expr(content_cols)
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    wc = Window.partitionBy("content_hash")
    return (
        df.withColumn("content_hash", h)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    content_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Incremental dedup: rows of ``new_df`` whose content is NOT already in
    ``corpus_df``, deduped within the batch (lowest ``id_col`` survives) —
    the daily-crawl-vs-existing-corpus pattern.

    Scale shape: the corpus side collapses to DISTINCT 16-byte digests
    before the anti-join (at 100 TB you'd maintain that digest index as its
    own table and skip the scan entirely — this operator accepts any
    DataFrame with the content columns, including such an index via a
    pre-hashed single column). The anti-join and the intra-batch
    first-occurrence window both key on the digest, so the join's exchange
    is reused by the window — batch payloads cross the wire once, corpus
    payloads never do.
    """
    from pyspark.sql import Window

    corpus_hashes = corpus_df.select(
        content_digest_expr(content_cols, corpus_df).alias("content_hash")
    ).distinct()
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    return (
        new_df.withColumn("content_hash", content_digest_expr(content_cols, new_df))
        .join(corpus_hashes, "content_hash", "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def line_dedup_flags(
    lines: DataFrame,
    doc_col: str = "doc_id",
    idx_col: str = "line_idx",
    line_col: str = "line",
    max_copies: int | None = None,
) -> DataFrame:
    """Sub-document (line/paragraph) exact dedup, CCNet/RefinedWeb style:
    flag every occurrence of a line except the corpus-wide first (order =
    (doc, line index)), optionally also dropping ALL occurrences of lines
    with more than ``max_copies`` copies (boilerplate: cookie banners,
    navigation chrome — the CCNet "duplicated lines" filter).

    Input is the already-exploded line table (one row per line, any
    splitter: ``\\n`` for real corpora, sentence or token-span synthesis for
    line-less fixtures) — the operator is agnostic to what a "line" is.
    Output = input + ``line_digest``, ``n_copies``, ``keep``.

    Scale shape (100 TB): groupBy(digest).agg(min(struct(doc,idx)), count)
    has a map-side partial aggregate, so a viral line (a cookie banner
    duplicated 1e9×) combines to one row per input partition before the
    exchange — the window-function formulation (row_number over the digest
    partition) would instead gather every copy into one task. The join back
    is digest-keyed sort-merge; line payloads cross the wire once (the
    lines side), the first-owner side carries only 16-byte digests +
    (doc,idx) pairs.
    """
    digest = F.md5(F.col(line_col).cast("binary"))
    keyed = lines.withColumn("line_digest", digest)
    first = keyed.groupBy("line_digest").agg(
        F.min(F.struct(F.col(doc_col).alias("d"), F.col(idx_col).alias("i"))).alias(
            "_first"
        ),
        F.count(F.lit(1)).alias("n_copies"),
    )
    keep = (F.col(doc_col) == F.col("_first.d")) & (F.col(idx_col) == F.col("_first.i"))
    if max_copies is not None:
        keep = keep & (F.col("n_copies") <= max_copies)
    return keyed.join(first, "line_digest").withColumn("keep", keep).drop("_first")


def duplicate_spans(
    docs: DataFrame,
    k: int = 3,
    min_len: int = 4,
    max_gram_occ: int = 1_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated token spans (≥ ``min_len`` tokens) between document
    pairs — the Spark-native formulation of exact-substring dedup (the
    published approach builds a corpus suffix array on one giant machine;
    the gram-diagonal formulation below reaches the same cross-document
    duplicated passages with only hash exchanges, at the cost of the
    documented frequency cap).

    How: every k-gram occurrence becomes (doc, pos, md5(gram)); equal grams
    across two docs are candidate matches; matches between one doc pair
    lying on one diagonal (pos_a - pos_b constant) at consecutive positions
    are the SAME duplicated passage, merged by the classic gap-and-island
    key (pos - row_number) into a single span row of length
    (run_length + k - 1). A span shorter than ``min_len`` is noise (any
    shared k tokens); the default reports only spans that extend beyond
    one gram.

    Scale: gram identity is a 16-byte binary md5 — unhex(md5(...)), not
    the 32-char hex string F.md5 returns, halving shuffle-key width
    (ADVICE r12). Pair generation is ONE gram-keyed exchange (r13 opt):
    each gram's occurrence list is gathered (collect_list, bounded by the
    ``max_gram_occ`` cap below) and cross-doc position pairs are expanded
    in-row with nested higher-order transforms — the corpus is exploded
    once, where the former count-agg + semi-join + self-join shape
    exploded it four times. Pair expansion is the candidate explosion
    point, so grams occurring more than ``max_gram_occ`` times
    corpus-wide are EXCLUDED first (a boilerplate gram in 1e6 docs would
    emit 1e12 position pairs; the suffix-array approach hits the same
    wall as one mega-run) — the cap now also bounds every collected list.
    The cap is part of the operator's semantics — "spans all of whose
    grams occur ≤ max_gram_occ times" — deterministic and
    oracle-replayable, not a sampling shortcut; callers needing
    viral-gram spans raise it explicitly. The islands window runs per
    (doc_a, doc_b, diagonal) — group sizes are bounded by the shorter
    doc's length, never corpus scale.
    """
    grams = (
        docs.select(F.col(id_col).alias("doc"), F.split(F.trim(F.col(text_col)), r"\s+").alias("arr"))
        .filter(F.size("arr") >= k)
        .select(
            "doc",
            F.explode(F.sequence(F.lit(1), F.size("arr") - (k - 1))).alias("p"),
            "arr",
        )
        .select(
            "doc",
            "p",
            F.unhex(
                F.md5(F.array_join(F.slice(F.col("arr"), F.col("p"), k), " ").cast("binary"))
            ).alias("gram"),
        )
    )
    # ONE gram-keyed exchange replaces count-agg + semi-join + self-join
    # (r13 opt, guide §2.4 — the former shape exploded the corpus FOUR
    # times: each self-join side rebuilt grams and its own copy of the
    # occurrence-count filter). Each gram's occurrences are gathered into
    # one list — bounded by ``max_gram_occ``, the cap that already
    # guarded the join fan-out — and the cross-doc position pairs are
    # generated in-row by higher-order transforms, exactly the rows the
    # a.gram = b.gram AND a.doc < b.doc join produced.
    #
    # r14 scale guards (ADVICE/VERDICT r13, guide §5): (1) a VIRAL gram
    # (boilerplate in 1e6+ docs) must never build its full occurrence
    # list in one aggregation buffer row just to be discarded — rank the
    # occurrences with a sort-based, spillable row_number over the SAME
    # gram partitioning (the window's exchange is reused by the groupBy,
    # still one shuffle) and keep only the first cap+1: a gram over the
    # cap still shows size(os) = cap+1 > cap and is excluded with
    # identical semantics, but no list ever exceeds cap+1 structs.
    # (2) pair expansion explodes the OUTER occurrence first and runs
    # only the inner filter/transform per row, so in-row materialization
    # is bounded by cap structs, not cap^2/2.
    from pyspark.sql import Window

    occ_w = Window.partitionBy("gram").orderBy("doc", "p")
    occ = (
        grams.withColumn("rn", F.row_number().over(occ_w))
        .filter(F.col("rn") <= max_gram_occ + 1)
        .groupBy("gram")
        .agg(F.collect_list(F.struct("doc", "p")).alias("os"))
        .filter((F.size("os") > 1) & (F.size("os") <= max_gram_occ))
    )
    m = (
        occ.select(F.explode("os").alias("a"), "os")
        .select(
            F.explode(
                F.expr(
                    "transform(filter(os, b -> a.doc < b.doc), b ->"
                    " struct(a.doc AS doc_a, b.doc AS doc_b,"
                    " a.p AS pa, b.p AS pb))"
                )
            ).alias("pr")
        )
        .select("pr.doc_a", "pr.doc_b", "pr.pa", "pr.pb")
    )

    diag = (F.col("pa") - F.col("pb")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = m.select("doc_a", "doc_b", "pa", "pb", diag).withColumn(
        "run_key", F.col("pa") - F.row_number().over(w)
    )
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "run_key")
        .agg(
            F.min("pa").cast("long").alias("start_a"),
            F.min("pb").cast("long").alias("start_b"),
            (F.count(F.lit(1)) + (k - 1)).cast("long").alias("len_tokens"),
        )
        .filter(F.col("len_tokens") >= min_len)
        .select("doc_a", "doc_b", "start_a", "start_b", "len_tokens")
    )


def _doc_token_arrays(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, arr): whitespace-split token arrays — the shared first stage
    of both cut operators (factored by code-review r12 so the twins
    cannot fork on tokenization)."""
    return docs.select(
        F.col(id_col).alias("doc"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("arr"),
    )


def _doc_positions(toks: DataFrame) -> DataFrame:
    """(doc, p, tok): 1-based token positions from :func:`_doc_token_arrays`."""
    return toks.select(
        "doc", F.posexplode(F.col("arr")).alias("i0", "tok")
    ).select("doc", (F.col("i0") + 1).alias("p"), "tok")


def _reassemble_kept(
    toks: DataFrame, kept: DataFrame, id_col: str
) -> DataFrame:
    """Fold surviving (doc, p, tok) rows back to the cut operators' shared
    output contract: (id, n_tokens, n_removed, cleaned_md5) — the md5
    proves exact reconstruction without shipping cleaned text. One doc
    exchange; the collect_list is bounded by the doc's own length. The id
    keeps ITS OWN type (string/UUID ids are valid; a hard long cast would
    silently NULL them)."""
    agg = kept.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("p"), F.col("tok")))
                    ),
                    lambda x: x["tok"],
                ),
                " ",
            ).cast("binary")
        ).alias("cleaned_md5"),
    )
    empty_md5 = F.md5(F.lit("").cast("binary"))
    return toks.select("doc", F.size("arr").alias("n_tokens")).join(
        agg, "doc", "left"
    ).select(
        F.col("doc").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("cleaned_md5"), empty_md5).alias("cleaned_md5"),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr's CUT stage: given :func:`duplicate_spans` output, remove
    each duplicated passage from the HIGHER-id doc of the pair (the doc_a
    occurrence is the kept copy — deterministic one-copy-survives, the
    published approach's policy of keeping a single occurrence corpus-wide)
    and report the cleaned text's fingerprint. Output is one row per doc:
    (doc_id, n_tokens, n_removed, cleaned_md5) — the md5 proves the exact
    reconstruction without shipping corpus text anywhere (same contract as
    ``reassemble_deduped_docs``).

    Cleaned text = the kept tokens re-joined with single spaces (token-space
    cuts, matching duplicate_spans' token-position spans; declared
    whitespace normalization).

    Scale shape: one posexplode of the corpus tokens (linear), an anti join
    against the cut-range table keyed by doc id (ranges per doc are that
    doc's own span count — never corpus-scale; the range predicate rides
    the equi-join as a filter), and one groupBy(doc) reassembly bounded by
    per-doc token counts. No all-pairs stage, no corpus-scale window.
    """
    ranges = spans.select(
        F.col("doc_b").alias("doc"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("len_tokens") - 1).alias("e"),
    )
    toks = _doc_token_arrays(docs, id_col, text_col)
    pos = _doc_positions(toks)
    kept = pos.join(
        ranges,
        (pos["doc"] == ranges["doc"])
        & (F.col("p") >= F.col("s"))
        & (F.col("p") <= F.col("e")),
        "left_anti",
    )
    return _reassemble_kept(toks, kept, id_col)


def cut_duplicated_grams(
    docs: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr dedup, the LINEAR formulation — the 100 TB scale path
    next to :func:`duplicate_spans` + :func:`remove_duplicate_spans`
    (whose pair-enumerated output is inherently quadratic in the copy
    count of a viral passage: n docs sharing a passage ARE n(n-1)/2 span
    rows, so no plan can emit it in linear time).

    Semantics: with gram width ``k`` = the minimum duplicated-substring
    length, a token position is CUT iff it is covered by a k-gram whose
    occurrence is not the corpus-wide first (first = smallest (doc, pos);
    keep-one-copy). This is the duplicated-k-gram-coverage form of
    exact-substring dedup (the hash/Bloom-set variant of Lee et al.
    2022's suffix-array ExactSubstr): every duplicated substring of
    length >= k is a union of duplicated k-grams, and each duplicated
    k-gram survives in exactly one place corpus-wide. Unlike the
    pairwise cut it also deduplicates REPEATS WITHIN one document, and
    "first copy" is per gram rather than per whole span — declared
    semantics, deterministic, oracle-replayable.

    Output contract matches :func:`remove_duplicate_spans`: one row per
    doc, (id, n_tokens, n_removed, cleaned_md5) — the md5 proves exact
    reconstruction without shipping cleaned text.

    Scale shape — every stage corpus-linear, NO pair join anywhere:
    one gram posexplode (16-byte binary unhex(md5) keys, ADVICE r12);
    ONE gram-keyed exchange ranks each gram's occurrences by (doc, p)
    (row_number — rn > 1 is exactly "not the corpus-wide first"; r13 opt,
    replacing a groupBy(gram) + join-back that exploded the corpus twice
    and joined against a gram-type-sized table); then the classic sweep —
    each cut occurrence emits its (+1 at s, -1 at s+k) delta events in
    one projection, one (doc, p) aggregation, and a per-doc running sum
    marks covered positions (group sizes bounded by the doc's own length,
    never corpus scale). Reassembly is the same per-doc fold as the
    pairwise cut. 6 scans → 3 measured (plans/r13/exactsubstr_gram_cut_*).
    """
    toks = _doc_token_arrays(docs, id_col, text_col)
    pos = _doc_positions(toks)
    grams = (
        toks.filter(F.size("arr") >= k)
        .select(
            "doc",
            F.explode(F.sequence(F.lit(1), F.size("arr") - (k - 1))).alias("p"),
            "arr",
        )
        .select(
            "doc",
            "p",
            F.unhex(
                F.md5(
                    F.array_join(F.slice(F.col("arr"), F.col("p"), k), " ").cast(
                        "binary"
                    )
                )
            ).alias("gram"),
        )
    )
    # ONE pass over the gram stream (r13 opt, guide §2.4): ranking each
    # gram's occurrences by (doc, p) makes "not the corpus-wide first"
    # simply rn > 1 — one gram-keyed exchange replaces the former
    # groupBy(gram) + join-back, which executed the gram explode TWICE
    # and paid a gram-keyed join (gram-type-sized right side: broadcast
    # at bench SF but a full shuffle join at scale). Gram groups are
    # occurrence counts (overwhelmingly 1-2), so the window sort is flat.
    from pyspark.sql import Window

    wg = Window.partitionBy("gram").orderBy("doc", "p")
    starts = (
        grams.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") > 1)
        .select("doc", F.col("p").alias("s"))
    )
    # both delta events from each start row in ONE projection — the
    # former self-union re-executed the whole starts subtree twice
    events = starts.select(
        "doc",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("p"), F.lit(1).alias("delta")),
                F.struct((F.col("s") + k).alias("p"), F.lit(-1).alias("delta")),
            )
        ).alias("e"),
    ).select("doc", F.col("e.p").alias("p"), F.col("e.delta").alias("delta"))
    net = events.groupBy("doc", "p").agg(F.sum("delta").alias("net"))

    w = Window.partitionBy("doc").orderBy("p").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cov = pos.join(net, ["doc", "p"], "left").withColumn(
        "cum", F.sum(F.coalesce(F.col("net"), F.lit(0))).over(w)
    )
    kept = cov.filter(F.col("cum") == 0).select("doc", "p", "tok")
    return _reassemble_kept(toks, kept, id_col)


def reassemble_deduped_docs(
    flagged: DataFrame,
    doc_col: str = "doc_id",
    idx_col: str = "line_idx",
    line_col: str = "line",
    sep: str = " ",
) -> DataFrame:
    """Fold :func:`line_dedup_flags` output back to one row per document:
    line counts plus the md5 of the surviving text (kept lines re-joined in
    original order) — the digest proves byte-identical reconstruction
    without shipping the full cleaned text to the driver/oracle compare.

    One hash exchange on ``doc_col``; the collect_list is bounded by the
    document's own line count (documents are the unit of parallelism — a
    single pathological 10 GB doc is a data-quality reject upstream, not a
    shuffle-planning case)."""
    kept = F.array_sort(
        F.collect_list(
            F.when(
                F.col("keep"),
                F.struct(F.col(idx_col).alias("i"), F.col(line_col).alias("l")),
            )
        )
    )
    return flagged.groupBy(doc_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_lines"),
        F.md5(
            F.array_join(F.transform(kept, lambda s: s["l"]), sep).cast("binary")
        ).alias("kept_text_md5"),
    )


def contained_docs(
    docs: DataFrame,
    gram_n: int = 16,
    max_gram_occ: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-containment dedup: every (doc_a, doc_b, pos) where doc_a's
    full text appears verbatim inside a strictly longer doc_b at 1-based
    ``pos`` (the FIRST occurrence) — the "page republished inside a larger
    page" case that exact dedup (equality) and near-dup (whole-document
    similarity) both miss: a 200-char quote inside a 20 KB page has tiny
    whole-doc Jaccard yet is a verbatim duplicate of the short doc.

    The naive plan is ``contains(b.text, a.text)`` over a cross join — dead
    at corpus scale. Spark-first blocking via ALIGNED char grams (the same
    idea as ``duplicate_spans``' gram diagonals, specialised to whole-doc
    probes so the big side stays linear):

    - container side: NON-overlapping ``gram_n``-char grams at positions
      1, n+1, 2n+1, … — total gram bytes == corpus bytes (amplification
      ×1, unlike every-position grams at ×n).
    - containee side: the ``gram_n`` grams starting at offsets 1..n. Any
      occurrence of A (|A| ≥ 2n−1) inside B covers at least one aligned
      B-gram whose start lies within A's first n characters, so the
      (aligned-gram == probe-gram) equi-join yields a candidate superset
      for every doc long enough to probe; probe cost is a constant n²
      chars per doc.
    - verification: candidates carry the implied occurrence start
      p = q − o + 1 plus the containee's md5 and length — CONSTANT-WIDTH
      rows; they are then grouped per container and checked inside one
      higher-order filter against the container's text
      (``md5(substring(b.text, p, len_a)) == md5(a.text)``). Texts never
      ship per candidate: the first implementation joined both full texts
      onto every candidate row and went 51x per decade at the 100x corpus
      (candidates are corpus-linear but text-weighted); this shape moves
      only 4 ints + one 32-char digest per candidate. Equality is by md5,
      the same content-digest identity the engine's whole dedup family
      keys on (collision odds ~2^-128).

    Grams are unhex(md5)'d to constant-width 16-byte binary join keys
    (ADVICE r12: F.md5 alone returns 32-char hex — twice the width).
    Boilerplate probe
    grams (occurring > ``max_gram_occ`` times among the aligned grams)
    are excluded before the join — same declared-semantics cap as
    ``duplicate_spans``: a viral gram in 1e6 docs would emit 1e6-fan-out
    candidates per probing doc. Containees shorter than 2·gram_n−1 cannot
    be probed at this gram size and are dropped (coverage floor is part of
    the operator's contract; run a second pass with a smaller ``gram_n``
    for the short tail — short docs make that pass cheap).

    Scale shape: one linear gram scan per side, one equi-join on 16-byte
    keys with a corpus-frequency cap, verification joins keyed by doc id.
    No window over corpus-scale groups, no all-pairs stage. The gram-keyed
    exchanges are sized from data stats (candidate_partitions) past the
    _worth_sizing input gate — the unsized 100x run spilled exactly like
    ngram's r6 case (5.1 s at 10x -> 188.6 s at 100x through 32 default
    partitions; ~17M gram rows want ~160).
    """
    return _containment_hits(docs, docs, gram_n, max_gram_occ, id_col, text_col)


def containment_grams(
    container_docs: DataFrame,
    gram_n: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The container-side ALIGNED-gram table (doc_b, len_b, q, g): the
    expensive explode+md5 pass of the containment family, factored so a
    deployment can persist it once (gate_index.DedupGateIndex kind
    'containment') instead of recomputing it per admission batch — the
    "persist the corpus's aligned-gram table" production path the
    contained_in_corpus docstring promises. Same expressions as the inline
    path by construction (this IS the inline path), so a prebuilt table
    changes the plan, never the rows."""
    n = gram_n
    d_c = container_docs.select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("txt"),
        F.length(text_col).cast("long").alias("len"),
    )
    return d_c.filter(F.col("len") >= n).select(
        F.col("doc").alias("doc_b"),
        F.col("len").alias("len_b"),
        F.explode(
            F.sequence(F.lit(1), F.col("len") - (n - 1), F.lit(n))
        ).alias("q"),
        "txt",
    ).select(
        "doc_b",
        "len_b",
        "q",
        F.unhex(F.md5(F.substring("txt", F.col("q"), n).cast("binary"))).alias("g"),
    )


def _containment_hits(
    probe_docs: DataFrame,
    container_docs: DataFrame,
    gram_n: int,
    max_gram_occ: int,
    id_col: str,
    text_col: str,
    container_grams: DataFrame | None = None,
) -> DataFrame:
    """Shared core of :func:`contained_docs` (both sides = the corpus) and
    :func:`contained_in_corpus` (probes = the new batch, containers = the
    corpus): (doc_a ∈ probe side contained in doc_b ∈ container side, pos).
    See contained_docs for the blocking/verification design.

    ``container_grams``: a prebuilt :func:`containment_grams` table for the
    container side — candidate generation probes it instead of re-hashing
    the corpus; verification still reads ``container_docs`` text, but only
    for matched candidate containers (id-keyed join)."""
    n = gram_n
    d_p = probe_docs.select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("txt"),
        F.length(text_col).cast("long").alias("len"),
    )
    d_c = container_docs.select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("txt"),
        F.length(text_col).cast("long").alias("len"),
    )
    n_part = 0
    if _worth_sizing(container_docs):
        stats = d_c.select(F.sum(F.floor(F.col("len") / n)).alias("ga")).first()
        n_probe = d_p.count()
        n_part = candidate_partitions(
            container_docs.sparkSession,
            int(stats["ga"] or 0),
            n_probe * n,
        )
    aligned = (
        container_grams
        if container_grams is not None
        else containment_grams(container_docs, n, id_col, text_col)
    )
    probes = d_p.filter(F.col("len") >= 2 * n - 1).select(
        F.col("doc").alias("doc_a"),
        F.col("len").alias("len_a"),
        F.explode(F.sequence(F.lit(1), F.lit(n))).alias("o"),
        "txt",
    ).select(
        "doc_a", "len_a", "o",
        F.unhex(F.md5(F.substring("txt", F.col("o"), n).cast("binary"))).alias("g"),
    )
    aligned = _sized_for_join(aligned, n_part, "g")
    probes = _sized_for_join(probes, n_part, "g")
    # aligned is hash-partitioned on g when sized, so the freq groupBy needs
    # no exchange and the candidate join reuses the same exchange (the
    # ngram_jaccard_pairs ReusedExchange pattern)
    ok = aligned.groupBy("g").agg(F.count(F.lit(1)).alias("n_occ")).filter(
        F.col("n_occ") <= max_gram_occ
    )
    cand = (
        probes.join(ok.select("g"), "g")
        .join(aligned, "g")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("q") - F.col("o") + 1).alias("p"),
            "len_a",
        )
        # geometric pruning before the distinct: spurious gram matches that
        # cannot be an occurrence (start before 1, overrun the container,
        # containee not strictly shorter) never reach the verify stage
        .filter(
            (F.col("p") >= 1)
            & (F.col("p") + F.col("len_a") - 1 <= F.col("len_b"))
            & (F.col("len_a") < F.col("len_b"))
        )
        .distinct()
    )
    a_dig = d_p.select(
        F.col("doc").alias("doc_a"),
        F.md5(F.col("txt").cast("binary")).alias("ha"),
    )
    per_b = (
        cand.join(a_dig, "doc_a")
        .groupBy("doc_b")
        .agg(
            F.collect_list(
                F.struct(F.col("doc_a"), F.col("p"), F.col("len_a"), F.col("ha"))
            ).alias("cl")
        )
    )
    hit = (
        per_b.join(d_c.select(F.col("doc").alias("doc_b"), "txt"), "doc_b")
        .select(
            "doc_b",
            F.explode(
                F.filter(
                    F.col("cl"),
                    lambda c: F.md5(
                        F.col("txt").substr(c["p"], c["len_a"]).cast("binary")
                    )
                    == c["ha"],
                )
            ).alias("c"),
        )
        .select(F.col("c.doc_a").alias("doc_a"), "doc_b", F.col("c.p").alias("p"))
    )
    return hit.groupBy("doc_a", "doc_b").agg(
        F.min("p").cast("long").alias("pos")
    ).select("doc_a", "doc_b", "pos")


def contained_in_corpus(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    gram_n: int = 16,
    max_gram_occ: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_grams: DataFrame | None = None,
) -> DataFrame:
    """Containment ADMISSION gate: keep only new docs whose full text does
    NOT appear verbatim inside some (strictly longer) corpus doc — the
    "this page is a fragment of something we already hold" ingestion rule,
    sitting between exact dedup (equality) and the near-dup gate (whole-doc
    similarity). Returns the surviving new_docs rows unchanged.

    Same asymmetric blocking as :func:`contained_docs` with the corpus on
    the (linear, non-exploding) container side and the batch paying only n
    probe grams per doc — the daily-crawl shape where the batch is tiny
    next to the corpus. Coverage floor applies to the BATCH side: new docs
    shorter than 2*gram_n - 1 cannot be probed at this gram size and pass
    the gate undetected (declared semantics; run a smaller-gram pass for
    the short tail). At 100 TB, pass ``corpus_grams`` — the persisted
    :func:`containment_grams` table, maintained on append via
    ``gate_index.DedupGateIndex(kind='containment')`` — so candidate
    generation probes the index instead of re-hashing the corpus;
    verification still reads corpus text, but only for matched candidate
    containers (id-keyed join against ``corpus_docs``).
    """
    dropped = _containment_hits(
        new_docs, corpus_docs, gram_n, max_gram_occ, id_col, text_col,
        container_grams=corpus_grams,
    ).select(F.col("doc_a").alias(id_col)).distinct()
    return new_docs.join(dropped, id_col, "left_anti")


CANDIDATE_PART_ROWS = 60_000  # ≈ the measured-good 8.1M prefix rows / 128 parts
CANDIDATE_PART_CAP = 4096


def candidate_partitions(spark, *row_counts: int) -> int:
    """Partition count for a candidate-generation join, sized from DATA
    STATS rather than the session default.

    BENCH_SCALING measured the failure mode this prevents: ngram-Jaccard's
    candidate sort-merge join at 100× corpus with partitions pinned at the
    session's 32 went superlinear (31×/decade — sort spill); re-sizing to
    128 restored near-linear (12.4×). The same re-run measured the inverse
    trap: oversizing at small SF costs ~25% in per-task overhead. So: take
    the LARGEST of the candidate stage's row counts (callers pass the
    exploded key-row count of the table they already persist — one cheap
    cached-count stage), target
    ~CANDIDATE_PART_ROWS rows per partition, never drop below the cluster's
    parallelism (small SF keeps its small-task regime), and cap to bound
    scheduler pressure — beyond the cap, per-partition volume grows but by
    then AQE skew-split is the operative mechanism.
    """
    import math

    par = spark.sparkContext.defaultParallelism
    need = max([c for c in row_counts if c] or [0])
    if not need:
        return par
    return min(CANDIDATE_PART_CAP, max(par, math.ceil(need / CANDIDATE_PART_ROWS)))


def _sized_for_join(df: DataFrame, n_part: int, *key_cols: str) -> DataFrame:
    """Repartition for the candidate join ONLY when the data-driven size
    exceeds what the session would use anyway.

    An explicit repartition pins the join's partitioning, which also opts it
    out of AQE's runtime choices (broadcast conversion, coalescing) — at
    small SF that measurably HURTS (+3-4 s on ngram at sf0.1, where AQE
    broadcasts the 80k-row candidate side). The session default is only
    wrong in one direction (too FEW partitions at large scale → sort
    spill), so intervene only in that direction.
    """
    session_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if n_part <= session_parts:
        return df
    return df.repartition(n_part, *key_cols)


_STATS_MIN_INPUT_BYTES = 4 << 20


def input_bytes_at_most(df: DataFrame, cap: int) -> bool:
    """True iff the DataFrame's file inputs are KNOWN to total <= cap bytes.

    Decided from the input's local file sizes on the driver — zero Spark
    jobs. Conservative in the scale direction: unknown/remote schemes and
    unreadable files return False ("not known small"), so gates built on
    this pick the scale-safe plan on a real cluster where inputs aren't
    local files. Empty input-file lists (in-memory frames: tests, literals)
    return True — those are by construction driver-sized.
    """
    import os as _os
    import urllib.parse as _up

    try:
        files = df.inputFiles()
    except Exception:
        return False
    if not files:
        return True  # in-memory frames (tests, literals)
    total = 0
    for f in files:
        if not f.startswith("file:"):
            return False
        p = _up.unquote(f[5:])
        while p.startswith("//"):
            p = p[1:]
        try:
            total += _os.path.getsize(p)
        except OSError:
            return False
        if total > cap:
            return False
    return True


def _worth_sizing(df: DataFrame) -> bool:
    """Whether the input is big enough for data-driven exchange sizing to
    pay for its stats actions (~0.5-1 s of eager driver jobs at sf0.1).

    Below the threshold the session default is already right (the
    BENCH_NOTES small-SF oversizing trap is the SAME regime), so skipping
    the stats there loses nothing. Unknown/remote schemes and in-memory
    frames resolve in the scale-safe direction via input_bytes_at_most:
    at cluster scale the stats cost is noise and the sizing is the point;
    in-memory test frames are tiny and skip it.
    """
    return not input_bytes_at_most(df, _STATS_MIN_INPUT_BYTES - 1)


def _cached_count(df: DataFrame) -> int:
    """Row count of a persisted DataFrame — one cache-materializing stage.

    The count doubles as the cache's forced materialization (downstream
    consumers would have paid it on first access anyway), so the only added
    cost is the single shuffle-free count stage over cached blocks. A Σc²
    per-key pair-fan-out stat would be the exact join-output size but costs
    a full extra shuffle — measured +0.8-1.2 s per query at sf0.1, more
    than the sizing is worth when the input-row proxy already lands within
    3% of the empirically-good partition count at 100×.
    """
    return df.count()


def minhash_signature_exprs(shingles: Column | str, n_hashes: int = MINHASH_HASHES) -> list[Column]:
    """H permutation-free min-hashes ``mh0``..: min over salted md5 of each
    shingle, one parsed SQL expression per hash (``shingles`` is a column
    name or a Column, common.sql_expr)."""
    return [
        sql_expr(
            lambda s, i=i: f"array_min(transform({s}, _s -> md5(concat('{i}|', _s))))",
            shingles,
        ).alias(f"mh{i}")
        for i in range(n_hashes)
    ]


def lsh_bands_expr(n_hashes: int = MINHASH_HASHES, n_bands: int = LSH_BANDS) -> Column:
    """Array of (band, key) structs; key concatenates the band's minhashes
    (the ``mh*`` columns of :func:`minhash_signature_exprs`)."""
    rows_per_band = n_hashes // n_bands
    bands = [
        f"named_struct('band', {b}, 'key', concat_ws('#', "
        + ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        + "))"
        for b in range(n_bands)
    ]
    return F.expr(f"array({', '.join(bands)})")


def jaccard_expr(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.4,
    k: int = SHINGLE_K,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH + exact-Jaccard verification.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ threshold.
    """
    # Shingle sets are computed ONCE and persisted: three consumers (band
    # keys + both sides of the pair join) would otherwise each re-tokenize
    # and re-hash the corpus — the dominant cost (8 salted md5 per shingle).
    shingle_sets = (
        spread(docs)
        .select(
            F.col(id_col),
            shingles_expr(tokens_expr(F.col(text_col)), k).alias("shingles"),
        )
        .persist()
    )
    # NB (perf, measured at 10× SF): an explode + partial-agg-min rewrite of
    # this projection — md5 inside whole-stage codegen instead of the
    # interpreted array-transform HOF — A/B'd at parity (4.05 vs 4.21 s);
    # the cost lives in shingle materialization and the candidate joins,
    # not here, so the shuffle-free projection stays.
    sig = shingle_sets.select(
        id_col, *minhash_signature_exprs("shingles")
    )
    # Candidate generation carries ONLY ids through the band join — shingle
    # sets would otherwise ride the shuffle 4x (once per band) and again
    # through the pair-dedup. They are joined back per unique pair below.
    # banded is persisted: both join sides read it (one minhash projection,
    # not two), and the sizing stats below materialize it up front.
    banded = (
        sig.select(F.col(id_col), F.explode(lsh_bands_expr()).alias("bk"))
        .select(id_col, "bk.band", "bk.key")
        .persist()
    )
    n_part = (
        candidate_partitions(docs.sparkSession, _cached_count(banded))
        if _worth_sizing(docs)
        else 0  # below _sized_for_join's threshold → keep session sizing
    )
    exp = _sized_for_join(banded, n_part, "band", "key")
    left = exp.select(F.col(id_col).alias("doc_a"), "band", "key")
    right = exp.select(F.col(id_col).alias("doc_b"), "band", "key")
    cand = (
        left.join(right, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sets = shingle_sets.select(F.col(id_col).alias("sid"), "shingles")
    pairs = (
        cand.join(sets.withColumnRenamed("shingles", "sh_a"),
                  cand.doc_a == F.col("sid")).drop("sid")
        .join(sets.withColumnRenamed("shingles", "sh_b"),
              cand.doc_b == F.col("sid")).drop("sid")
    )
    # Filter on the RAW jaccard, round only for output — rounding first
    # would admit pairs in [t - 5e-7, t) that the exact predicate rejects.
    out = (
        pairs.withColumn("jaccard_raw", jaccard_expr(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_raw") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard"))
    )
    return _unpersist_on_gc(out, shingle_sets, banded)


def _minhash_shingle_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = SHINGLE_K
) -> DataFrame:
    """(id, shingles): the verification sets of the near-dup admission
    gate — shared by :func:`minhash_dedup_against_corpus` and the
    persisted ``shingles`` table of ``DedupGateIndex(kind='minhash')``."""
    return docs.select(
        F.col(id_col),
        shingles_expr(tokens_expr(F.col(text_col)), k).alias("shingles"),
    )


def _minhash_band_rows(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, key): the LSH candidate probes derived from
    :func:`_minhash_shingle_rows` output — 4 constant-width rows per doc,
    the gate index's ``bands`` table."""
    sig = sh.select(id_col, *minhash_signature_exprs("shingles"))
    return sig.select(
        F.col(id_col), F.explode(lsh_bands_expr()).alias("bk")
    ).select(id_col, "bk.band", "bk.key")


def minhash_dedup_against_corpus(
    new_docs: DataFrame,
    corpus_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.4,
    k: int = SHINGLE_K,
    corpus_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental NEAR-dup gate: rows of ``new_docs`` with no
    LSH-candidate near-duplicate (exact jaccard ≥ ``threshold``) in the
    corpus — ``dedup_against_corpus``'s exact-hash semantics lifted to
    near-duplicate granularity, the real daily-crawl admission rule (a
    crawl re-serving yesterday's page with a new timestamp is not an
    exact-hash match).

    The corpus is EITHER raw ``corpus_docs`` (signatures recomputed
    inline — tests/small corpora) or a prebuilt ``corpus_index`` =
    (bands, shingles) from ``DedupGateIndex(kind='minhash').tables()``
    (operators/gate_index.py) — the production path: each batch probes
    the maintained index tables instead of re-hashing the corpus.

    Scale shape: the corpus contributes 4 constant-width band rows per doc
    for candidates; candidates carry ids only; corpus shingle sets are
    joined back ONLY for matched candidate ids. The batch side is small by
    construction, so its joins broadcast under AQE.
    """

    if (corpus_docs is None) == (corpus_index is None):
        raise ValueError(
            "pass exactly one of corpus_docs (inline recompute) or "
            "corpus_index (prebuilt bands+shingles tables)"
        )
    new_sh = _minhash_shingle_rows(spread(new_docs), id_col, text_col, k).persist()
    if corpus_index is not None:
        cor_banded, cor_sh = corpus_index
    else:
        cor_sh = _minhash_shingle_rows(spread(corpus_docs), id_col, text_col, k)
        cor_banded = _minhash_band_rows(cor_sh, id_col)
    cand = (
        _minhash_band_rows(new_sh, id_col)
        .withColumnRenamed(id_col, "new_id")
        .join(cor_banded.withColumnRenamed(id_col, "cor_id"), ["band", "key"])
        .select("new_id", "cor_id")
        .dropDuplicates(["new_id", "cor_id"])
    )
    verified = (
        cand.join(
            new_sh.select(F.col(id_col).alias("new_id"), F.col("shingles").alias("sh_n")),
            "new_id",
        )
        .join(
            cor_sh.select(F.col(id_col).alias("cor_id"), F.col("shingles").alias("sh_c")),
            "cor_id",
        )
        .filter(jaccard_expr(F.col("sh_n"), F.col("sh_c")) >= threshold)
        .select("new_id")
        .distinct()
    )
    out = new_docs.join(
        verified.withColumnRenamed("new_id", id_col), id_col, "left_anti"
    )
    return _unpersist_on_gc(out, new_sh)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = SHINGLE_K,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-duplicate pairs via prefix filtering
    (AllPairs/PPJoin family — Bayardo et al., WWW'07): no false negatives,
    unlike MinHash-LSH.

    Prefix filter: order every doc's shingle set by ONE global total order;
    two sets with Jaccard ≥ t MUST share an element within each one's first
    floor((1-t)·|S|)+1 elements of that order, so candidates come from an
    equi-join on prefix shingles only. The order is **ascending document
    frequency** (tie: shingle text) — the canonical AllPairs choice: prefixes
    then hold each doc's RAREST shingles, so join keys are near-unique and
    the candidate count collapses (a frequency-agnostic order like a hash
    puts stopword shingles in prefixes → quadratic blowup on hot keys).
    Costs one extra pre-pass (explode + count + re-collect) — linear, and at
    100 TB the df table is exactly the corpus statistics a pipeline caches
    anyway. The PPJoin length filter prunes candidates whose set sizes make
    Jaccard ≥ t impossible (|A| ≥ t·|B| and vice versa) before the sets are
    fetched; exact Jaccard then verifies the survivors.
    """
    prefix_frac = 1.0 - threshold
    # Shingle sets feed three consumers (freq counts, prefix keys, pair
    # verification) — persist so tokenize+shingle runs once, as in
    # minhash_lsh_pairs.
    base = (
        spread(docs)
        .select(
            F.col(id_col),
            shingles_expr(tokens_expr(F.col(text_col)), k).alias("shingles"),
        )
        .persist()
    )
    # One cheap aggregate over the cache (it doubles as the persist's forced
    # materialization) yields the exact exploded-shingle row count — the
    # volume every stage below processes. Sizing from it fixes the 100×
    # spillers BENCH_SCALING caught at session-default partitions: the freq
    # groupBy, the ex_all⋈freq sort-merge join, and the collect_list
    # exchange (the candidate join is sized separately from its own count).
    # Gated on input size so small corpora skip the stats actions entirely.
    size_aware = _worth_sizing(docs)
    n_big = (
        candidate_partitions(
            docs.sparkSession,
            int(base.select(F.sum(F.size("shingles"))).first()[0] or 0),
        )
        if size_aware
        else 0
    )
    ex_all = _sized_for_join(
        base.select(F.col(id_col), F.explode("shingles").alias("shingle")),
        n_big,
        "shingle",
    )
    # When sized, ex_all is hash-partitioned on shingle, so the groupBy
    # needs no exchange, and the join below reuses the SAME exchange for
    # its left side (ReusedExchange) — one sized shuffle replaces two
    # default-sized ones.
    freq = ex_all.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # Portable composite order key: zero-padded df then shingle — string sort
    # == (df asc, shingle asc) in any engine. Width 19 holds any BIGINT count
    # (lpad TRUNCATES when the value outgrows the pad, which would mangle the
    # rarest-first ordering for shingles with df >= 1e8 at corpus scale).
    order_key = F.concat(
        F.lpad(F.col("df").cast("string"), 19, "0"), F.lit("|"), F.col("shingle")
    )
    keys = (
        _sized_for_join(
            ex_all.join(freq, "shingle").select(F.col(id_col), order_key.alias("key")),
            n_big,
            id_col,
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("key")).alias("keys"))
    )
    pref = keys.withColumn(
        "prefix",
        F.slice(
            F.col("keys"),
            1,
            (F.floor(F.size(F.col("keys")) * F.lit(prefix_frac)) + 1).cast("int"),
        ),
    ).withColumn("n", F.size("keys"))
    # Both sides of the candidate self-join read the prefix rows — persist to
    # avoid recomputing the freq-join + sort twice. The stats pass over the
    # cache then sizes the candidate join to the DATA (exploded prefix rows
    # + exact Σc² pair fan-out) instead of the session default — the
    # BENCH_SCALING 100×-spill fix, without the small-SF oversizing trap.
    # r14: posexplode — each prefix row carries its 0-based position in the
    # doc's sorted key array, feeding the PPJoin positional filter below.
    ex = pref.select(
        F.col(id_col), "n", F.posexplode("prefix").alias("i", "key")
    ).persist()
    n_part = (
        candidate_partitions(docs.sparkSession, _cached_count(ex))
        if size_aware
        else 0
    )
    exp = _sized_for_join(ex, n_part, "key")
    # PPJoin positional filter (Xiao et al., WWW'08 — r14): for a candidate
    # pair, the MINIMAL common prefix key is provably the global minimum of
    # A∩B (any smaller common element would sit even earlier in both sorted
    # key arrays, hence inside both prefixes, contradicting minimality among
    # prefix matches). All common elements therefore lie in the suffixes
    # from its positions, so |A∩B| <= min(n_a - i_a, n_b - i_b); Jaccard >=
    # t needs |A∩B| >= t*(n_a+n_b)/(1+t). Candidates whose bound falls
    # short CANNOT pass the exact-Jaccard verification — dropping them here
    # cannot change the output (the filter is conservative: the tiny
    # relative epsilon only ever KEEPS extra candidates under float
    # rounding). The groupBy replaces the former dropDuplicates — same
    # exchange, strictly more pruning before the expensive verify joins
    # (measured at the 10x corpus: the verify stage was 4.6 of 11.3 s).
    matches = (
        exp.select(
            F.col(id_col).alias("doc_a"),
            F.col("n").alias("n_a"),
            F.col("i").alias("i_a"),
            "key",
        )
        .join(
            exp.select(
                F.col(id_col).alias("doc_b"),
                F.col("n").alias("n_b"),
                F.col("i").alias("i_b"),
                "key",
            ),
            "key",
        )
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: |A∩B| ≤ min(n_a,n_b) and |A∪B| ≥ max(n_a,n_b),
            # so jaccard ≤ min/max — sizes outside ratio t can't qualify
            & (F.col("n_a") >= threshold * F.col("n_b"))
            & (F.col("n_b") >= threshold * F.col("n_a"))
        )
    )
    min_m = F.min(F.struct("key", "i_a", "i_b")).alias("m")
    cand = (
        matches.groupBy("doc_a", "doc_b")
        .agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"), min_m)
        .filter(
            F.least(
                F.col("n_a") - F.col("m.i_a"), F.col("n_b") - F.col("m.i_b")
            )
            * (1.0 + threshold)
            >= threshold * (F.col("n_a") + F.col("n_b"))
            - 1e-9 * (F.col("n_a") + F.col("n_b"))
        )
        .select("doc_a", "doc_b")
    )
    # Verification is the 100× cost center (measured: ~93 of ~150 s): the
    # candidate pairs (~10M at 100×, each eventually carrying two ~1.3 KB
    # shingle arrays) flow through two sort-merge joins whose sorts spill at
    # session-default partitions. Size both joins with n_part (no-op at
    # small SF where n_part == session default).
    sets = base.select(F.col(id_col).alias("sid"), "shingles")
    p1 = _sized_for_join(cand, n_part, "doc_a").join(
        _sized_for_join(sets.withColumnRenamed("shingles", "sh_a"), n_part, "sid"),
        F.col("doc_a") == F.col("sid"),
    ).drop("sid")
    pairs = _sized_for_join(p1, n_part, "doc_b").join(
        _sized_for_join(sets.withColumnRenamed("shingles", "sh_b"), n_part, "sid"),
        F.col("doc_b") == F.col("sid"),
    ).drop("sid")
    # Raw-value filter then round, matching the oracle's order (see
    # minhash_lsh_pairs).
    out = (
        pairs.withColumn("jaccard_raw", jaccard_expr(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_raw") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard"))
    )
    return _unpersist_on_gc(out, base, ex)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash16_expr(tokens: Column) -> Column:
    """Portable 16-bit SimHash over distinct tokens.

    Bit c is set iff more than half the token hashes have the top bit of
    md5 hex digit c+1 set (the classic ±1 vote, restated as 2·count > n):
    bit 2c of the 64-bit vote (``_simhash_vote_sql``). The md5 array is
    computed once per row (common.sql_expr binds it to a lambda variable:
    an expression argument of 17 higher-order functions would otherwise be
    re-evaluated by each). A 64-bit variant is the production path; this
    one is reproducible in any SQL engine.
    """
    return sql_expr(
        lambda hs: _simhash_vote_sql(hs, range(0, 32, 2)),
        F.transform(F.array_distinct(tokens), F.md5),
    )


def simhash_hamming_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Near-dup pairs at SimHash Hamming distance ≤ 1, via bit-flip probes —
    the operation SimHash exists for (equal-signature buckets miss the
    single-bit wobble a few changed tokens cause).

    Multi-index equi-join: every doc emits its signature plus all 16
    single-bit flips; (a, b) are within Hamming 1 iff one of a's 17 probes
    equals b's signature — and exactly one does (the probes of a doc are
    pairwise distinct), so the join emits each qualifying pair exactly once
    under the a < b filter, with NO pair dedup pass. The only shuffle is
    the 16-bit-key equi-join carrying (id, probe) pairs. The verification
    column bit_count(xor) is recomputed exactly — free, and it makes the
    output self-describing. At 64-bit production signatures the same idea
    uses the 4-block Charikar index (split the signature into k+1 blocks;
    Hamming ≤ k implies an exact block match) instead of 64 flips.
    """
    sigs = docs.select(
        F.col(id_col), simhash16_expr(tokens_expr(F.col(text_col))).alias("sig")
    )
    probes = sigs.select(
        F.col(id_col).alias("doc_a"),
        F.col("sig").alias("sig_a"),
        F.explode(
            F.array(F.col("sig"), *[
                F.expr(f"sig ^ {1 << i}") for i in range(16)
            ])
        ).alias("probe"),
    )
    right = sigs.select(F.col(id_col).alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        probes.join(right, probes.probe == right.sig_b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(sig_a ^ sig_b)").cast("int").alias("hamming"),
        )
    )


def with_simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn("simhash16", simhash16_expr(tokens_expr(F.col(text_col))))


# ---------------------------------------------------------------------------
# Production-width SimHash: 64-bit signature + Charikar block index
# ---------------------------------------------------------------------------
SIMHASH64_BLOCKS = 4  # Hamming ≤ BLOCKS-1 ⇒ ≥1 exact 16-bit block match

_HEX_TOP = "'8','9','a','b','c','d','e','f'"  # hex digit with bit 3 set
_HEX_BIT2 = "'4','5','6','7','c','d','e','f'"  # hex digit with bit 2 set


def _simhash_vote_sql(hs: str, bits) -> str:
    """SQL for the majority-vote SimHash over the md5-hex array ``hs``:
    the i-th entry of ``bits`` is signature bit i.

    Vote bit b reads md5 hex digit b//2: even b votes on the digit's top
    bit (value ≥ 8), odd b on its bit 2 (value & 4) — two independent hash
    bits per digit, so 32 digits yield 64 vote bits, and every vote is a
    plain substring+IN any SQL engine replays byte-identically. Built as ONE
    SQL string (not one py4j Column call per term) per the
    plan-construction-cost rule; the terms are CASE sums, not an unrolled
    fold.

    Signature bit 63's weight is two's-complement MIN_LONG (spelled
    -(2^63-1)-1: the literal -9223372036854775808 would parse as a DECIMAL
    in Spark). Summing distinct powers of two never overflows: positive
    terms total ≤ 2^63-1.
    """
    terms = []
    for i, b in enumerate(bits):
        hexset = _HEX_TOP if b % 2 == 0 else _HEX_BIT2
        val = "(-9223372036854775807 - 1)" if i == 63 else str(1 << i)
        terms.append(
            f"(CASE WHEN 2 * size(filter({hs}, h -> "
            f"substring(h, {b // 2 + 1}, 1) IN ({hexset}))) > size({hs}) "
            f"THEN {val} ELSE CAST(0 AS BIGINT) END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def with_simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sig) with the 64-bit SimHash — shuffle-free projection."""
    hs = F.transform(
        F.array_distinct(tokens_expr(F.col(text_col))), F.md5
    )
    return (
        docs.select(F.col(id_col), hs.alias("_hs"))
        .select(id_col, F.expr(_simhash_vote_sql("_hs", range(64))).alias("sig"))
    )


def _block_differs_sql(j: int, a: str = "sig_a", b: str = "sig_b") -> str:
    return (
        f"((shiftright({a}, {16 * j}) & 65535) != "
        f"(shiftright({b}, {16 * j}) & 65535))"
    )


def simhash64_hamming_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = SIMHASH64_BLOCKS - 1,
) -> DataFrame:
    """Near-dup pairs at 64-bit SimHash Hamming ≤ 3 via the Charikar block
    index (Charikar STOC'02 / Manku et al. WWW'07) — the production-width
    variant of `simhash_hamming_pairs`, whose 16-bit signature space (65k
    buckets) saturates at ~10⁶ docs and whose 64 bit-flip probes would be
    the wrong candidate generator at this width.

    Block index: split the signature into 4 disjoint 16-bit blocks; by
    pigeonhole, Hamming ≤ 3 forces the ≤3 differing bits into ≤3 blocks, so
    at least one block matches EXACTLY — candidates come from 4 equi-joins
    on (block_id, block_value), i.e. each doc emits 4 rows and the only
    shuffle keys on a 16-bit block value + block id. Exactly-once emission
    without a dedup pass: a pair matching in several blocks is kept only at
    its FIRST matching block (the join row where every lower-indexed block
    differs — checkable from the two signatures the row already carries).
    Verification recomputes bit_count(sig_a ^ sig_b) exactly.

    At 100 TB: candidate fan-out per bucket is corpus/2^16 per block in the
    uniform case; real skew (boilerplate-heavy corpora) concentrates in few
    buckets — AQE skew-join splits those, and max_hamming stays ≤ 3 so the
    block count (max_hamming+1) keeps block width ≥ 16 bits.

    max_hamming must be ≤ SIMHASH64_BLOCKS-1 (the pigeonhole guarantee).
    """
    if max_hamming > SIMHASH64_BLOCKS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the {SIMHASH64_BLOCKS}-block "
            "pigeonhole guarantee (needs max_hamming+1 blocks)"
        )
    sigs = with_simhash64(spread(docs), id_col, text_col)
    # single source of the block layout: any change to SIMHASH64_BLOCKS'
    # width/count must hit the pair-finder AND the persisted index together
    rows = _simhash64_block_rows(sigs, id_col)
    left = rows.select(
        F.col(id_col).alias("doc_a"), F.col("sig").alias("sig_a"), "blk", "bval"
    )
    right = rows.select(
        F.col(id_col).alias("doc_b"), F.col("sig").alias("sig_b"), "blk", "bval"
    )
    first_match = " OR ".join(
        f"(blk = {i}"
        + "".join(f" AND {_block_differs_sql(j)}" for j in range(i))
        + ")"
        for i in range(SIMHASH64_BLOCKS)
    )
    return (
        left.join(right, ["blk", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.expr(f"bit_count(sig_a ^ sig_b) <= {max_hamming}"))
        .filter(F.expr(first_match))
        .select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(sig_a ^ sig_b)").cast("int").alias("hamming"),
        )
    )


def _simhash64_block_rows(
    sigs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig, blk, bval): each signature exploded to its 4 disjoint
    16-bit Charikar blocks. The signature rides IN the block row — unlike
    the minhash index's separate shingles table, simhash verification
    needs only the two signatures, so the persisted index is ONE table and
    the bands/shingles two-table commit-ordering concern does not arise."""
    blocks = F.expr(
        "explode(array("
        + ", ".join(
            f"struct({b} AS blk, (shiftright(sig, {16 * b}) & 65535) AS bval)"
            for b in range(SIMHASH64_BLOCKS)
        )
        + "))"
    )
    return sigs.select(F.col(id_col), "sig", blocks.alias("bk")).select(
        id_col, "sig", "bk.blk", "bk.bval"
    )


def simhash64_dedup_against_corpus(
    new_docs: DataFrame,
    corpus_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = SIMHASH64_BLOCKS - 1,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental simhash64 admission gate: rows of ``new_docs`` with no
    corpus document at SimHash Hamming ≤ ``max_hamming`` — the simhash
    twin of :func:`minhash_dedup_against_corpus`, catching the
    template-edit near-dups (boilerplate page with one changed line) that
    shingle-Jaccard scores low and exact-hash misses entirely.

    The corpus is EITHER raw ``corpus_docs`` (signatures recomputed
    inline — tests/small corpora) or a prebuilt ``corpus_index`` block
    table, ``DedupGateIndex(kind='simhash64').tables()["blocks"]``
    (operators/gate_index.py) — the production path the streaming gate
    uses.

    Scale shape: the batch side emits 4 block rows per doc; the only
    shuffle keys on (blk, bval) against the corpus index (clustered on
    exactly that key); verification is a pure bit_count on the two
    signatures the join row already carries — no second join. The batch
    side is small by construction, so its joins broadcast under AQE.
    """
    if max_hamming > SIMHASH64_BLOCKS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the {SIMHASH64_BLOCKS}-block "
            "pigeonhole guarantee (needs max_hamming+1 blocks)"
        )
    if (corpus_docs is None) == (corpus_index is None):
        raise ValueError(
            "pass exactly one of corpus_docs (inline recompute) or "
            "corpus_index (prebuilt block table)"
        )
    if corpus_index is None:
        corpus_index = _simhash64_block_rows(
            with_simhash64(spread(corpus_docs), id_col, text_col), id_col
        )
    new_blocks = _simhash64_block_rows(
        with_simhash64(spread(new_docs), id_col, text_col), id_col
    ).select(
        F.col(id_col).alias("new_id"), F.col("sig").alias("sig_n"), "blk", "bval"
    )
    matched = (
        new_blocks.join(
            corpus_index.select(
                F.col("sig").alias("sig_c"), "blk", "bval"
            ),
            ["blk", "bval"],
        )
        .filter(F.expr(f"bit_count(sig_n ^ sig_c) <= {max_hamming}"))
        .select("new_id")
        .distinct()
    )
    return new_docs.join(
        matched.withColumnRenamed("new_id", id_col), id_col, "left_anti"
    )


def simhash_buckets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Docs grouped by identical SimHash — constant-width near-dup buckets."""
    return (
        with_simhash(spread(docs).select(id_col, text_col), text_col)
        .groupBy("simhash16")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("min_doc_id"),
        )
    )
