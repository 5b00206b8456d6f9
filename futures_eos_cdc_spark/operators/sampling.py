"""Deterministic sampling / dataset-split operators for training pipelines.

A 100 TB corpus is split train/val/test by CONTENT-STABLE hashing, never by
`rand()`: the assignment must survive re-runs, repartitioning, and incremental
appends (a new file must not reshuffle old rows between splits). The operator
hashes a stable id with a salt and compares the first hex byte against
cumulative thresholds — one projection, no shuffle, no state.

Changing ``salt`` re-deals the assignment (for ablations); changing nothing
reproduces it bit-for-bit in any engine with md5 (the DuckDB oracle runs the
same expression).

Granularity is 1/256 per threshold step — plenty for split ratios; use
4 hex chars (65536 steps) if sub-0.4% precision is ever needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, str]]:
    """(label, exclusive upper hex-byte bound) pairs for all labels but the
    last; the last label is the CASE's ELSE arm (absorbs rounding
    remainder, so the bounds always cover the full 0x00-0xff range)."""
    total = sum(weights.values())
    bounds: list[tuple[str, str]] = []
    acc = 0.0
    for label in list(weights)[:-1]:
        acc += weights[label] / total
        b = round(acc * 256)
        # A cumulative share reaching 1.0 must cover bucket 0xff as well:
        # 'ff' as an EXCLUSIVE bound would silently drop ~0.39% of rows
        # (e.g. a {'keep': 1.0, 'drop': 0.0} split). 'zz' sorts above
        # every hex byte, making the bound always-true.
        bounds.append((label, "zz" if b >= 256 else format(b, "02x")))
    return bounds


def split_label_expr(
    id_col: Column, weights: dict[str, float], salt: str = "split"
) -> Column:
    """Content-stable split label: first hex byte of md5(salt|id) vs
    cumulative thresholds. Hex-string comparison is identical in every
    engine (lowercase md5), so oracles reproduce the assignment exactly."""
    bucket = F.substring(F.md5(F.concat(F.lit(salt + "|"), id_col.cast("string"))), 1, 2)
    expr = None
    for label, ub in split_thresholds(weights):
        cond = bucket < F.lit(ub)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    last = list(weights)[-1]
    return F.lit(last) if expr is None else expr.otherwise(F.lit(last))


def split_label_sql(id_sql: str, weights: dict[str, float], salt: str = "split") -> str:
    """The same assignment as ANSI SQL (DuckDB oracle)."""
    bucket = f"substr(md5('{salt}|' || CAST({id_sql} AS VARCHAR)), 1, 2)"
    cases = "".join(
        f" WHEN {bucket} < '{ub}' THEN '{label}'"
        for label, ub in split_thresholds(weights)
    )
    last = list(weights)[-1]
    return f"CASE{cases} ELSE '{last}' END"


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Add a ``split`` column: deterministic train/val/test assignment."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    return df.withColumn("split", split_label_expr(F.col(id_col), weights, salt))


def group_keep_expr(
    id_col: Column, group_col: Column, fractions: dict[str, float], salt: str = "mix"
) -> Column:
    """Content-stable per-group keep predicate for mixture resampling:
    keep iff the first hex byte of md5(salt|id) falls under the GROUP's
    fraction threshold (same /256 bucket rule as hash_split, so oracles
    reproduce the selection exactly; fractions snap to 1/256 granularity
    identically in every engine). Groups absent from ``fractions`` drop.
    """
    bucket = F.substring(
        F.md5(F.concat(F.lit(salt + "|"), id_col.cast("string"))), 1, 2
    )
    expr = None
    for g, frac in fractions.items():
        b = round(frac * 256)
        ub = "zz" if b >= 256 else format(b, "02x")
        cond = (group_col == F.lit(g)) & (bucket < F.lit(ub))
        expr = cond if expr is None else expr | cond
    return F.lit(False) if expr is None else expr


def shard_assign_exprs(
    id_col: Column, n_shards: int, salt: str = "shard"
) -> tuple[Column, Column]:
    """(shard_id, shuffle_key) for a deterministic global shuffle.

    shard_id = first 4 md5 hex chars (16 bits) mod n_shards — content-stable,
    so re-runs and incremental appends keep every row in its shard;
    shuffle_key = the full digest, giving a pseudorandom but reproducible
    intra-shard order (the "global shuffle" training loaders need, computed
    without any global sort).
    """
    h = F.md5(F.concat(F.lit(salt + "|"), id_col.cast("string")))
    shard = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % n_shards).alias(
        "shard_id"
    )
    return shard, h


def global_shuffle_shards(
    df: DataFrame, id_col: str, n_shards: int, salt: str = "shard"
) -> DataFrame:
    """Deterministic global shuffle + shard layout for training-data writes.

    Adds ``shard_id`` (which output shard the row belongs to) and
    ``pos_in_shard`` (its position inside the shard). The classic
    formulation is ORDER BY rand() — a full global sort whose assignment
    changes every run. This one is content-stable and needs ONE exchange:
    hash-partition by shard_id, then a per-shard window sorts only that
    shard's rows by digest. At 100 TB, pick n_shards so a shard fits an
    executor (e.g. 100k shards of ~1 GB); shard sizes concentrate tightly
    around N/n_shards (binomial), and the per-shard sort is the only
    super-linear work — bounded by shard size, not corpus size.
    ``repartition(shard_id)`` before the window would be a no-op: the
    window's partitionBy already installs exactly that exchange.
    """
    from pyspark.sql import Window

    shard, h = shard_assign_exprs(F.col(id_col), n_shards, salt)
    w = Window.partitionBy("shard_id").orderBy(
        F.col("_shuffle_key").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("shard_id", shard)
        .withColumn("_shuffle_key", h)
        .withColumn("pos_in_shard", F.row_number().over(w))
        .drop("_shuffle_key")
    )


def write_training_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    path: str,
    salt: str = "shard",
    mode: str = "overwrite",
) -> None:
    """Materialize the global-shuffle layout as one parquet directory per
    shard (``shard_id=K/``), rows stored in their in-shard order.

    Layout contract training loaders rely on: directory pruning selects any
    shard subset without touching the rest; within a shard, row order on
    disk IS ``pos_in_shard`` order (sortWithinPartitions after a 1-file-
    per-shard repartition), so a sequential reader streams the shard in its
    deterministic shuffled order with no further sort. At 100 TB use
    n_shards large enough that one shard fits a loader worker (~1 GB); the
    single exchange is the repartition on shard_id.
    """
    (
        global_shuffle_shards(df, id_col, n_shards, salt)
        .repartition(n_shards, F.col("shard_id"))
        .sortWithinPartitions("shard_id", "pos_in_shard")
        .write.partitionBy("shard_id")
        .mode(mode)
        .parquet(path)
    )


def weighted_group_sample(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float],
    id_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Domain-mixture resampling: keep each group at its own fraction
    (e.g. downsample over-represented languages to target proportions).
    Pure projection + filter — no shuffle, append-safe, rerun-stable —
    the way corpus mixing must work when the corpus is 100 TB and the
    mixture spec changes weekly."""
    return df.filter(
        group_keep_expr(F.col(id_col), F.col(group_col), fractions, salt)
    )


def token_budget_rates(
    docs: DataFrame,
    weights: dict[str, float],
    budget_tokens: int | None = None,
    group_col: str = "source",
    tokens_col: str = "n_tokens",
    budget_fraction: float | None = None,
) -> DataFrame:
    """Solve the per-group sampling rates that realize a target token
    MIXTURE under a total token budget — the data-mixing step a
    pretraining pipeline runs after curation (weights say what fraction
    of the training tokens each source should contribute; availability
    caps what it CAN contribute).

    rate_g = min(1, weight_g x budget / available_g) — a group with fewer
    tokens than its allocation is taken whole (the shortfall is visible
    as rate = 1, not silently redistributed: mixture re-balancing is a
    policy decision the caller makes explicitly).

    The budget is EITHER ``budget_tokens`` (an absolute count) or
    ``budget_fraction`` (a fraction of the corpus's total tokens,
    computed in-plan — no driver collect, so the whole solve stays one
    deferred job). One aggregation over (group, tokens), n_groups rows
    out — broadcast back onto the corpus by :func:`token_budget_sample`.
    Every rate is one double multiply chain + division, bit-replayable
    in SQL. (r13 opt note: a derive-total-from-avail rewrite — window or
    checkpoint — was measured SLOWER at sf0.1 and the 10x corpus than
    these two independent aggregations, which Spark schedules as
    concurrent stages of one job; deliberately left as is.)
    """
    if (budget_tokens is None) == (budget_fraction is None):
        raise ValueError("pass exactly one of budget_tokens or budget_fraction")
    avail = docs.groupBy(group_col).agg(
        F.sum(F.col(tokens_col)).cast("long").alias("available_tokens")
    )
    w = F.create_map(
        *[x for k, v in sorted(weights.items()) for x in (F.lit(k), F.lit(float(v)))]
    )[F.col(group_col)]
    if budget_fraction is not None:
        total = docs.agg(F.sum(F.col(tokens_col)).cast("long").alias("_total_tokens"))
        avail = avail.crossJoin(F.broadcast(total))
        # left-assoc chain mirrored verbatim in the SQL oracle
        rate = w * F.lit(float(budget_fraction)) * F.col("_total_tokens") / F.col(
            "available_tokens"
        )
    else:
        rate = w * F.lit(float(budget_tokens)) / F.col("available_tokens")
    # Groups with no weight are EXCLUDED, not implicitly rate-1: Spark's
    # least() skips NULLs, so least(1.0, NULL-weight-rate) would silently
    # admit an unweighted group whole — the opposite of what a mixture
    # spec means. The explicit when() + filter mirrors an inner join on
    # the weight table.
    return avail.select(
        group_col,
        "available_tokens",
        F.when(w.isNotNull(), F.least(F.lit(1.0), rate)).alias("rate"),
    ).filter(F.col("rate").isNotNull())


def temperature_mixture_rates(
    docs: DataFrame,
    temperature: float = 0.5,
    budget_fraction: float = 0.5,
    group_col: str = "lang",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Temperature-scaled mixture rates (the multilingual rebalancing
    rule of mT5 §3.1 / XLM-R §3.1 — public α-sampling): a group's target
    share of the sampled corpus is proportional to ``available_g^τ``, so
    τ=1 reproduces the natural distribution, τ→0 flattens it (maximally
    upsampling tail languages), and the standard τ≈0.3-0.7 sits between.
    Unlike :func:`token_budget_rates`, the WEIGHTS are derived from the
    corpus itself — no hand mixture spec — which is how multilingual
    pretraining actually sets language proportions.

    ENGINE-EXACT formulation (the quality classifier's clipped-linear
    precedent): the per-group weight is ``floor(available_g^τ)`` as a
    BIGINT — for τ=0.5 computed via IEEE ``sqrt`` (correctly rounded in
    every engine, so the floor agrees bit-for-bit; relative error vs the
    real power is ≤ 1/sqrt(n), negligible at corpus token counts), and
    τ=1.0/0.0 are exact. Other τ values use ``pow`` and work, but
    cross-engine bit-parity of the floor is not guaranteed there
    (``pow`` is not correctly rounded) — stick to the exact three for
    oracle-checked pipelines. z = Σ weights and total = Σ tokens stay in
    exact integer arithmetic, so no cross-engine float-summation-order
    hazard exists; the only floating point is one fixed-association
    multiply/divide chain per group.

    rate_g = min(1, (w_g · budget_fraction · total) / (z · available_g))
    — capped at 1 like token_budget_rates (no replication; the shortfall
    is visible, not silently redistributed). ONE corpus aggregation +
    one n_groups-row re-aggregation; apply with
    :func:`token_budget_sample` (broadcast of n_groups rate rows, the
    corpus never shuffles)."""
    avail = docs.groupBy(group_col).agg(
        F.sum(F.col(tokens_col)).cast("long").alias("available_tokens")
    )
    n_dbl = F.col("available_tokens").cast("double")
    if temperature == 1.0:
        w = F.col("available_tokens")
    elif temperature == 0.0:
        w = F.lit(1).cast("long")
    elif temperature == 0.5:
        w = F.floor(F.sqrt(n_dbl)).cast("long")
    else:
        w = F.floor(F.pow(n_dbl, F.lit(float(temperature)))).cast("long")
    # Same unweighted-group guard as token_budget_rates (code-review r10):
    # a group whose token sum is NULL (all-NULL tokens_col) or non-positive
    # (e.g. legacy size(NULL) = -1 leaking upstream) has no defined weight —
    # least(1.0, NULL) would silently admit it WHOLE (and NaN from
    # sqrt(negative) ranks greatest, with engine-dependent least()
    # semantics). Excluded BEFORE the stats aggregation (ADVICE r10): an
    # invalid group must not pollute _z/_total either (a negative sum
    # entering _total, or at temperature=1.0 a negative weight entering
    # _z, skews every valid group's rate). The exclusion is the output
    # contract too — invalid groups get NO rate row, so an inner join via
    # token_budget_sample drops their docs; the registered oracle
    # (TEMPERATURE_MIXTURE_ORACLE) states the same WHERE.
    valid = F.col("available_tokens").isNotNull() & (F.col("available_tokens") > 0)
    # materialized at n_groups rows (r13 opt): the stats re-aggregation,
    # the rate projection, and every caller-side reference (e.g. the
    # share join in q_temperature_mixture) reuse ONE corpus scan instead
    # of re-running the corpus aggregation per reference. eager=False
    # (ADVICE r13): materialization happens on the FIRST ACTION, not at
    # plan construction — explain/plan-capture paths no longer launch a
    # corpus aggregation job just to build the DataFrame
    weighted = (
        avail.filter(valid).withColumn("weight", w).localCheckpoint(eager=False)
    )
    stats = weighted.agg(
        F.sum("weight").cast("long").alias("_z"),
        F.sum("available_tokens").cast("long").alias("_total"),
    )
    wd, zd = F.col("weight").cast("double"), F.col("_z").cast("double")
    rate = (
        wd * F.lit(float(budget_fraction)) * F.col("_total").cast("double")
    ) / (zd * F.col("available_tokens").cast("double"))
    return weighted.crossJoin(F.broadcast(stats)).select(
        group_col,
        "available_tokens",
        "weight",
        (wd / zd).alias("share"),
        F.least(F.lit(1.0), rate).alias("rate"),
    )


def token_budget_sample(
    docs: DataFrame,
    rates: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    salt: str = "mix2|",
) -> DataFrame:
    """Apply :func:`token_budget_rates` deterministically: doc kept iff its
    16-bit content-stable hash bucket falls under floor(rate x 65536) —
    append-safe, rerun-stable, and exactly reproducible in any SQL engine
    (the same md5-hex-to-int read the quality classifier uses). The rates
    table is n_groups rows — always a broadcast join; the corpus never
    shuffles."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
    )
    thr = F.floor(F.col("rate") * F.lit(65536.0)).cast("long")
    return (
        docs.join(F.broadcast(rates.select(group_col, "rate")), group_col)
        .withColumn("kept", bucket < thr)
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str,
    salt: str = "cap",
) -> DataFrame:
    """Per-source document cap: keep at most ``cap`` rows per group,
    chosen by content-stable hash rank — the domain-cap step web-corpus
    curation runs so one mega-domain (a crawler trap, a mirror farm)
    cannot dominate the training mixture no matter how many pages it
    contributed.

    Selection must be deterministic and re-run-stable, so rank is
    row_number ordered by (md5(salt|id), id) within the group — a
    pseudorandom but reproducible order; the id tie-break makes it total
    even under hash collisions. Rows keep a ``src_rank`` column so callers
    can audit how deep into each group the cap cut.

    Scale shape: ONE hash exchange on ``group_col``, and the rank-≤-cap
    predicate is a rank LIMIT, which Spark's WindowGroupLimit pushes below
    the sort — each partition keeps a cap-size heap instead of fully
    sorting its groups (the same physical shape the registry's
    topk_per_group asserts). Group skew is real at web scale (one domain
    = billions of rows): AQE skew-split handles the shuffle, and the
    group-limit heap bounds per-task memory at O(cap).
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("src_rank", F.row_number().over(w))
        .filter(F.col("src_rank") <= cap)
        .withColumn("src_rank", F.col("src_rank").cast("long"))
    )
