"""Connected components over near-duplicate pairs → dedup cluster ids.

Near-dup detection (MinHash/SimHash/embedding LSH) emits PAIRS; a cleaning
pipeline needs CLUSTERS (keep one doc per component, drop the rest). Pair →
cluster is connected components, an inherently iterative computation no
single SQL query expresses — the engine implements it as alternating
large-star / small-star rounds (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14), the shuffle-friendly formulation:

- large-star: every node links its LARGER neighbors to its current minimum
  neighbor (strictly decreases large labels without growing star sizes);
- small-star: every node links itself and its smaller neighbors to the
  minimum (contracts chains).

Each round is two groupBys on node id — partial-aggregated, ids-only
shuffles; convergence is O(log n) rounds on real near-dup graphs (dup
clusters are dense and shallow). Compare label-propagation-to-fixpoint,
which needs diameter rounds (a 10k-long chain = 10k shuffles).

Each round materializes via a checkpoint — without it the lineage doubles
per iteration and Catalyst re-analyzes an exponentially growing plan (the
classic iterative-DataFrame trap). On a cluster pass ``checkpoint_dir`` so
rounds use RELIABLE ``checkpoint()`` (executor-loss-safe); the default
``localCheckpoint`` is for local/test runs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _split_uri(path: str) -> tuple[str, str, str]:
    """(scheme, authority, path): ``/p`` → ("", "", "/p"), ``file:/p`` →
    ("file", "", "/p"), ``hdfs://nn:8020/p`` → ("hdfs", "nn:8020", "/p").
    BOTH scheme and authority are kept as comparison components (ADVICE
    r9: dropping the scheme made ``file:/ckpt`` — explicit scheme, no
    authority — compare equal to ``hdfs://nn:8020/ckpt``'s path on a
    different filesystem; code-review r9 made the same point for the
    authority), while a caller's PLAIN path still matches the qualified
    live value on whatever-the-default-FS (empty caller scheme/authority
    are wildcards — ADVICE r8's original complaint)."""
    head = path.split("/", 1)[0]
    if ":" not in head:
        return "", "", path
    scheme, rest = path.split(":", 1)
    if rest.startswith("//"):
        tail = rest[2:]
        slash = tail.find("/")
        if slash < 0:
            return scheme, tail, "/"
        return scheme, tail[:slash], tail[slash:]
    return scheme, "", rest


def _ensure_checkpoint_dir(sc, checkpoint_dir: str) -> None:
    """Set the context checkpoint dir iff the LIVE value doesn't already
    point there. Spark stores ``<qualified dir>/<random-UUID>`` — so the
    comparison is against the live value's PARENT, scheme-stripped (a
    plain equality guard is dead code). Consulting the live value (not a
    module-local cache of what we last set, ADVICE r7) means a foreign
    ``setCheckpointDir`` between calls is detected and re-overridden, so
    reliable checkpoints land in the dir the caller asked for; repeated
    identical calls stay a no-op (no UUID-subdir churn)."""
    import os

    want_scheme, want_auth, want = _split_uri(checkpoint_dir)
    want = want.rstrip("/")
    if not want.startswith("/"):
        want = os.path.abspath(want)
    live = sc.getCheckpointDir()
    if live is not None:
        live_scheme, live_auth, live_path = _split_uri(live)
        live_parent = live_path.rstrip("/").rsplit("/", 1)[0]
        # a plain caller path matches whatever scheme/authority the
        # default FS qualified the live value with; an EXPLICIT caller
        # scheme or authority must match exactly (same path on another
        # filesystem or cluster is not "set")
        if (
            live_parent == want
            and want_auth in ("", live_auth)
            and want_scheme in ("", live_scheme)
        ):
            return
    sc.setCheckpointDir(checkpoint_dir)


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round. ``edges`` columns: (u, v)."""
    # Symmetrize: neighborhoods are undirected.
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # large-star: for each u, attach neighbors > u to m = min(N(u) ∪ {u}).
    nbr_min = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    large = (
        sym.join(nbr_min, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    # small-star: for each u, attach u and neighbors <= u to the minimum.
    sym2 = large.select("u", "v").union(
        large.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    small_nbrs = sym2.filter(F.col("v") <= F.col("u"))
    m2 = small_nbrs.groupBy("u").agg(F.min("v").alias("m"))
    small = (
        small_nbrs.join(m2, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(m2.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    return small


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Resolve pair edges into components: (id, component) with component =
    the minimum member id — the canonical "keep-doc" per dup cluster.

    Iterates star rounds until the edge set is stable (every edge points
    directly at its component root), checkpointing each round. At 100 TB
    each round is a pair of ids-only hash aggregations; the convergence
    check reuses the just-materialized round (a count, not a join).

    ``checkpoint_dir``: when set, rounds materialize via RELIABLE
    ``df.checkpoint()`` into that (HDFS/object-store) path. Local
    checkpoints store blocks on executors — fine on local[N], but on a real
    cluster one executor loss after round k truncates unrecoverable lineage
    and kills the job; with 20 rounds over a 100 TB edge set an executor
    loss is expected, so production runs should always pass a reliable dir.
    Default (None) keeps ``localCheckpoint`` for local/test use.

    Two session-level caveats of Spark's checkpoint API (not this
    function): ``setCheckpointDir`` is a SparkContext-global setting, so
    the dir passed here becomes the session's checkpoint dir for any later
    ``checkpoint()`` caller (re-set only when it differs from what THIS
    module last set — see _ensure_checkpoint_dir); and checkpoint files
    outlive the job unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` — set that on
    clusters so superseded rounds are GC'd when their RDDs fall out of
    scope.
    """
    if checkpoint_dir is not None:
        _ensure_checkpoint_dir(pairs.sparkSession.sparkContext, checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint()

        def _ckpt_round(df: DataFrame) -> DataFrame:
            # reliable checkpoints stay EAGER: a lazy df.checkpoint()
            # re-computes the whole round to write the files after the
            # first action (the classic persist-before-checkpoint trap)
            return df.checkpoint()

    else:

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

        def _ckpt_round(df: DataFrame) -> DataFrame:
            # r14: LAZY local checkpoint — blocks persist during the first
            # job that computes the round, which below is the signature
            # aggregation. One job per round (materialize + sig together)
            # instead of two; the driver-bound iteration cadence was the
            # measured scaling ceiling (8-vs-32-core ratio 0.89).
            return df.localCheckpoint(eager=False)

    edges = _ckpt(
        pairs.select(F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    prev = None
    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        edges = _ckpt_round(_star_round(edges))
        # Cheap signature (rows + endpoint sum) as a FAST PRE-FILTER only:
        # distinct edge sets can collide on it, so equality is confirmed with
        # an exact exceptAll on the two checkpointed rounds (both deduped and
        # equal-count ⇒ symmetric-difference-empty ⇔ identical sets).
        # This .first() is the job that materializes the lazy checkpoint.
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("u") + F.col("v")).alias("s"),
        ).first()
        if prev is not None and prev_sig == (sig["n"], sig["s"]):
            if edges.exceptAll(prev).isEmpty():
                converged = True
                break
        prev = edges
        prev_sig = (sig["n"], sig["s"])
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds; "
            "returning partial labels would silently mis-cluster — raise "
            "max_rounds (rounds needed grow ~log(component diameter))"
        )
    # edges now map member -> root; roots map to themselves.
    members = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("id"), F.col("v").alias("component"))
    return members.union(roots).dropDuplicates(["id"])


def dedup_keep_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drop every doc that belongs to a near-dup cluster but is not its
    minimum-id representative — the final stage of a near-dup funnel."""
    comp = connected_components(pairs, checkpoint_dir=checkpoint_dir)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
    src: str = "doc_a",
    dst: str = "doc_b",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
) -> DataFrame:
    """PageRank over an undirected pair list (near-dup graphs: which docs
    sit at the center of duplication clusters) — the power-iteration
    formulation, fully declarative: no collect, no driver scalar; the node
    count enters every expression through a broadcast one-row aggregate.

    pr_{k+1}(v) = (1-d)/N + d * Σ_{u~v} pr_k(u)/deg(u), pr_0 = 1/N.
    Undirected ⇒ every node has degree ≥ 1 ⇒ no dangling-mass term.

    Determinism: the neighbor sum runs in DECIMAL(38,10) (summation order
    cannot change it); everything else is a fixed chain of IEEE ops, so
    any engine reproduces the values bit-for-bit (DuckDB oracle replays
    the unrolled iterations). Scale shape: each iteration is one join on
    the node key plus one aggregate — 2 exchanges per iteration over
    (node, double) rows only; edges are re-read from their (cached or
    materialized) pair table.

    ``checkpoint_dir``: same contract as ``connected_components`` — when
    set, the edge table and every ``checkpoint_every``-th rank round
    materialize via RELIABLE ``df.checkpoint()`` into that
    (HDFS/object-store) path, so an executor loss mid-run cannot truncate
    unrecoverable lineage on a deep iteration; the rounds in between keep
    ``localCheckpoint`` (rank tables are node-cardinality — cheap to
    recompute from the last reliable round, and local materialization
    preserves the AQE broadcast behavior measured below). Default (None)
    keeps ``localCheckpoint`` throughout for local/test runs.
    """
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every={checkpoint_every} must be >= 1 (1 = every "
            "round); 0 would divide by zero mid-iteration"
        )
    if checkpoint_dir is not None:
        _ensure_checkpoint_dir(edges.sparkSession.sparkContext, checkpoint_dir)

    def _ckpt(df: DataFrame, reliable: bool) -> DataFrame:
        if checkpoint_dir is not None and reliable:
            return df.checkpoint()
        return df.localCheckpoint()

    dec = "decimal(38,10)"
    # Materialization strategy (measured at sf0.1, 550k pairs / 1.1M
    # directed edges): persist() is the WRONG tool here — cached plans are
    # excluded from AQE's output-repartitioning, so the per-round join
    # loses its runtime broadcast conversion and degrades to a full
    # sort-merge shuffle of the edge table every round (7.9 s -> 16.7 s
    # measured). localCheckpoint() materializes AND truncates lineage while
    # leaving downstream plans fully AQE-eligible: the edge table is
    # computed once, each round's rank table (node-cardinality, tiny) is
    # materialized once so the next round's broadcast build does not
    # re-execute the whole prefix (the quadratic re-execution trap of
    # broadcast-fed iteration), and AQE broadcast-joins it against the
    # edges. Same pattern as connected_components' per-round checkpoints.
    # r14: materialize the PAIR list before symmetrization — the union
    # references the edges subplan twice, so without this the entire
    # upstream pair pipeline (simhash/minhash candidate generation, the
    # expensive part) executed twice inside the und2 job (measured at the
    # 10x corpus: und2 materialization 8.3 s -> ~4.8 s). Guide §2.4:
    # duplicated subtrees are hidden re-shuffles.
    pair_tbl = _ckpt(
        edges.selectExpr(f"{src} AS a", f"{dst} AS b"),
        reliable=True,  # corpus-sized: durable when a dir is given
    )
    und = pair_tbl.selectExpr("a AS u", "b AS v").unionAll(
        pair_tbl.selectExpr("b AS u", "a AS v")
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    und2 = _ckpt(
        und.join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")), "v"
        ),
        reliable=True,  # the one corpus-sized table: always durable when a dir is given
    )
    # Initial ranks derive from the CHECKPOINTED edge table (deg(u) = its
    # out-edge count there), so materializing them never re-executes the
    # upstream pair pipeline.
    deg_u = und2.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # r14: the 1-row node-count frame is referenced by EVERY round's
    # crossJoin(broadcast(n1)) — un-materialized, each round's checkpoint
    # job (and each broadcast build) re-ran the full und2 groupBy just to
    # recount nodes. One tiny materialization ends that (guide §2.4).
    n1 = _ckpt(deg_u.agg(F.count(F.lit(1)).alias("nn")), reliable=False)
    ranks = deg_u.crossJoin(F.broadcast(n1)).select(
        "u", "deg", (F.lit(1.0) / F.col("nn")).alias("pr")
    )
    base = F.lit(1.0 - damping) / F.col("nn")
    for it in range(iters):
        m = ranks.select("u", (F.col("pr") / F.col("deg")).cast(dec).alias("w"))
        ranks = _ckpt(
            und2.join(m, "u")
            .groupBy("v", "deg_v")
            .agg(F.sum("w").cast("double").alias("s"))
            .crossJoin(F.broadcast(n1))
            .select(
                F.col("v").alias("u"),
                F.col("deg_v").alias("deg"),
                (base + damping * F.col("s")).alias("pr"),
            ),
            reliable=(it + 1) % checkpoint_every == 0 or it == iters - 1,
        )
    return ranks.select(
        F.col("u").alias("doc_id"),
        F.col("deg").cast("long").alias("deg"),
        F.round("pr", 6).alias("pr"),
    )
