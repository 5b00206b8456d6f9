"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) over hashed n-gram features, Spark-first.

The pretraining-data selection shape: given a small TARGET corpus (the
distribution you want more of — e.g. curated English) and a large RAW
corpus, estimate bag-of-hashed-n-gram distributions p (target) and q
(raw), weight every candidate document by its log importance ratio

    log w(x) = sum_b  c_b(x) * ( log p[b] - log q[b] )

(c_b = the document's count in hash bucket b, Laplace-smoothed unigram
probabilities over ``n_buckets`` buckets), then Gumbel-top-k sample: the
standard trick that turns weighted sampling WITHOUT replacement into a
deterministic top-k over ``log w(x) + Gumbel(u_x)``. Every random input
is md5-derived, so the selection is content-stable and bit-reproducible
in any engine (the DuckDB oracle replays it expression for expression).

Scale shape (100 TB): the feature space is FIXED at ``n_buckets`` (the
paper's hashing trick — vocabulary growth never grows state), so the
distribution tables are n_buckets rows and always broadcast; the corpus
text is featurized exactly once into per-doc bucket counts (one gram
explode + one map-side-combinable aggregate), everything downstream
re-aggregates those counts — no vocabulary-sized shuffle anywhere, no
driver collect. Cross-engine float
discipline follows the BM25 convention (registry docstring): each ln()
term is rounded to 6dp before the per-doc sum, which runs in
DECIMAL(38,10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .common import sql_expr
from .text import tokens_expr, word_grams_sql

DSIR_BUCKETS = 256
DSIR_SALT = "dsir"
DSIR_TOPK = 50


def grams_expr(toks: Column) -> Column:
    """Unigrams + word bigrams (the paper's feature set) from a token
    array — one array expression, no Python in the loop; ``toks`` is
    evaluated once per row."""
    return sql_expr(word_grams_sql, toks)


def bucket_expr(gram: Column, n_buckets: int = DSIR_BUCKETS) -> Column:
    """Hash bucket: first 16 bits of md5, mod n_buckets — identical in
    every engine with md5 (oracle: ('0x'||substr(md5(g),1,4))::INT % n)."""
    return (
        F.conv(F.substring(F.md5(gram), 1, 4), 16, 10).cast("int") % n_buckets
    )


def gumbel_expr(id_col: Column, salt: str = DSIR_SALT) -> Column:
    """Deterministic Gumbel(0,1) noise: u = (md5-derived 32-bit int + 1)
    / (2^32 + 1) in (0,1), g = -ln(-ln u) — content-stable resampling
    noise (same id + salt => same draw in any engine), rounded to 6dp per
    the cross-engine ln() convention."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"), id_col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    u = (h + F.lit(1).cast("double")) / F.lit(float(2**32 + 1))
    return F.round(-F.log(-F.log(u)), 6)


def dsir_log_ratios(
    doc_bucket_counts: DataFrame, n_buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """(bucket, lr) — per-bucket smoothed log importance ratio
    round(ln p[b] - ln q[b], 6), derived from the per-document bucket
    counts (doc_id, bucket, cnt, is_t).

    Two cheap re-aggregations of the already-featurized table: the bucket
    histogram (n_buckets groups — partial aggregation collapses it
    map-side) and the single-row totals, both broadcastable forever: the
    table is n_buckets rows at ANY corpus size. Buckets the raw corpus
    never hits are absent — a candidate document can't hit them either
    (candidates are a subset of raw)."""
    hist = doc_bucket_counts.groupBy("bucket").agg(
        F.sum("cnt").alias("raw_cnt"),
        F.sum(F.when(F.col("is_t"), F.col("cnt")).otherwise(F.lit(0))).alias(
            "tgt_cnt"
        ),
    )
    tot = hist.agg(
        F.sum("raw_cnt").alias("raw_tot"), F.sum("tgt_cnt").alias("tgt_tot")
    )
    nb = float(n_buckets)
    return hist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(
                (F.col("tgt_cnt") + 1.0).cast("double")
                / (F.col("tgt_tot") + nb).cast("double")
            )
            - F.log(
                (F.col("raw_cnt") + 1.0).cast("double")
                / (F.col("raw_tot") + nb).cast("double")
            ),
            6,
        ).alias("lr"),
    )


def dsir_ratio_literal(
    doc_bucket_counts: DataFrame, n_buckets: int = DSIR_BUCKETS
) -> list[float]:
    """Dense per-bucket log-ratio list for PROJECTION gates (the
    streaming selection gate): the :func:`dsir_log_ratios` table
    collected into an n_buckets-element array literal (bounded by
    CONFIG, the Bloom-bitmap discipline). Buckets the training corpus
    never hit — which a live stream CAN hit — take the count-0 smoothed
    ratio ln((raw_tot + n)/(tgt_tot + n)), the same Laplace formula at
    cnt=0."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    rows = dsir_log_ratios(doc_bucket_counts, n_buckets).collect()
    tot = doc_bucket_counts.agg(
        F.sum("cnt").alias("raw_tot"),
        F.sum(F.when(F.col("is_t"), F.col("cnt")).otherwise(F.lit(0))).alias(
            "tgt_tot"
        ),
    ).collect()[0]
    raw_tot, tgt_tot = int(tot["raw_tot"] or 0), int(tot["tgt_tot"] or 0)
    # half-up at 6dp like F.round, NOT Python round()'s banker's
    # rounding — at a tie the unseen-bucket default must match what the
    # batch path (dsir_log_ratios) emits for the same formula (ADVICE r11)
    default = float(
        Decimal(
            repr(
                math.log(1.0 / (tgt_tot + n_buckets))
                - math.log(1.0 / (raw_tot + n_buckets))
            )
        ).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )
    arr = [default] * n_buckets
    for r in rows:
        arr[r["bucket"]] = r["lr"]
    return arr


def dsir_score_expr(
    text: Column, ratios: list[float], n_buckets: int = DSIR_BUCKETS
) -> Column:
    """Per-document DSIR importance score as ONE pure column expression —
    the streaming/projection twin of :func:`dsir_sample`'s weight (the
    same Σ over gram occurrences of the bucket's log-ratio; the batch
    sampler groups per bucket and decimal-sums, so the two agree up to
    IEEE association — a GATE tolerance, not an oracle contract). The
    ratio array rides as one literal; per-doc cost is O(grams), no join,
    no shuffle."""
    arr = F.lit(ratios).cast("array<double>")
    return F.aggregate(
        grams_expr(tokens_expr(text)),
        F.lit(0.0),
        lambda acc, g: acc + F.element_at(arr, bucket_expr(g, n_buckets) + 1),
    )


def dsir_sample(
    docs: DataFrame,
    is_target: Column,
    *,
    n_buckets: int = DSIR_BUCKETS,
    k: int = DSIR_TOPK,
    salt: str = DSIR_SALT,
) -> DataFrame:
    """Gumbel-top-k importance resample of the NON-target documents of
    ``docs`` toward the target distribution. Returns (doc_id, lang, w,
    key, rank): w = the document's log importance ratio, key = w +
    deterministic Gumbel noise, rank = 1..k by key desc.

    Plan — the corpus text is featurized EXACTLY ONCE (DSIR-paper
    practice; a naive two-pass form re-explodes and re-hashes every gram
    a second time, which at 100 TB is a second full corpus scan): one
    gram explode -> (doc, bucket) counts, localCheckpoint-ed (the table
    is O(docs x n_buckets) COUNTS — orders of magnitude under the gram
    stream it replaces, and it is the same row set the downstream
    aggregates shuffle anyway). The histogram/ratio tables then derive
    from the checkpointed counts (n_buckets rows, broadcast), and the
    weights are one broadcast join + doc-keyed decimal sum; global top-k
    is a TakeOrderedAndProject (never a full sort). ``is_target`` must
    be an expression over ``docs``'s columns."""
    base = docs.select(
        "doc_id", "lang", F.explode(grams_expr(tokens_expr(F.col("text")))).alias("gram"),
        is_target.alias("is_t"),
    )
    dc_all = (
        base.groupBy(
            "doc_id", "lang", "is_t", bucket_expr(F.col("gram"), n_buckets).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    lr = dsir_log_ratios(dc_all, n_buckets)
    w = (
        dc_all.filter(~F.col("is_t"))
        .join(F.broadcast(lr), "bucket")
        .withColumn("term_w", F.round(F.col("cnt") * F.col("lr"), 6))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("term_w").cast("decimal(38,10)"))
            .cast("double")
            .alias("w")
        )
    )
    scored = w.select(
        "doc_id",
        "lang",
        "w",
        F.round(F.col("w") + gumbel_expr(F.col("doc_id"), salt), 6).alias("key"),
    )
    # TakeOrderedAndProject picks the k winners without a full sort; the
    # rank window then runs over k rows only (single tiny partition).
    return scored.orderBy(F.desc("key"), F.asc("doc_id")).limit(k).withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("key"), F.asc("doc_id"))),
    )
