"""Connected components (alternating star rounds) vs a driver-side
union-find reference, including the chain graph that defeats naive
label propagation."""

import random

from futures_eos_cdc_spark.operators.clustering import (
    connected_components,
    dedup_keep_representatives,
)


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for n in nodes:
        comps.setdefault(find(n), []).append(n)
    return {n: min(m) for m in comps.values() for n in m}


def test_matches_union_find_on_random_graphs(spark):
    random.seed(11)
    for n, m in [(60, 50), (200, 300), (120, 119)]:
        edges = set()
        while len(edges) < m:
            a, b = random.randrange(n), random.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        edges = sorted(edges)
        nodes = sorted({x for e in edges for x in e})
        truth = _union_find(edges, nodes)
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.id: r.component for r in connected_components(df).collect()}
        assert got == {x: truth[x] for x in nodes}


def test_reliable_checkpoint_dir(spark, tmp_path):
    # checkpoint_dir switches rounds to reliable df.checkpoint() (the
    # executor-loss-safe mode a cluster run must use); results must be
    # identical to the localCheckpoint default, and the checkpoint files
    # must actually land in the given directory.
    random.seed(23)
    edges = sorted({(min(a, b), max(a, b))
                    for a, b in (tuple(random.sample(range(80), 2)) for _ in range(120))})
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    ckpt = str(tmp_path / "cc_ckpt")
    local = {r.id: r.component for r in connected_components(df).collect()}
    reliable = {
        r.id: r.component
        for r in connected_components(df, checkpoint_dir=ckpt).collect()
    }
    assert reliable == local
    import os

    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "reliable checkpoint wrote no files"


def test_checkpoint_dir_overrides_foreign_setting(spark, tmp_path):
    """ADVICE r7: if OTHER code moved the context checkpoint dir between
    calls, a subsequent connected_components(checkpoint_dir=...) must
    re-assert its own dir (consulting the LIVE value, not a module cache),
    so reliable checkpoints land where the caller asked."""
    import os

    from futures_eos_cdc_spark.operators.clustering import connected_components

    edges = [(i, i + 1) for i in range(20)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    mine = str(tmp_path / "mine")
    connected_components(df, checkpoint_dir=mine).count()
    foreign = str(tmp_path / "foreign")
    spark.sparkContext.setCheckpointDir(foreign)
    before = sum(len(fs) for _, _, fs in os.walk(mine))
    connected_components(df, checkpoint_dir=mine).count()
    after = sum(len(fs) for _, _, fs in os.walk(mine))
    assert after > before, "second call did not re-assert its checkpoint dir"
    foreign_files = sum(len(fs) for _, _, fs in os.walk(foreign))
    assert foreign_files == 0, "checkpoints leaked into the foreign dir"


def test_chain_converges_in_log_rounds(spark):
    # A 300-long chain needs 300 rounds under naive propagation; star
    # rounds converge logarithmically (max_rounds=20 would fail otherwise).
    chain = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert len(got) == 301 and set(got.values()) == {0}


def test_dedup_keep_representatives(spark, sf_dir):
    from futures_eos_cdc_spark.operators.dedup import minhash_lsh_pairs
    from futures_eos_cdc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.4).select(
        "doc_a", "doc_b"
    ).withColumnRenamed("doc_a", "id_a").withColumnRenamed("doc_b", "id_b")
    kept = dedup_keep_representatives(docs, pairs)
    comp = connected_components(pairs)
    n_losers = comp.filter("id != component").count()
    assert kept.count() == docs.count() - n_losers
    # every component representative survives
    reps = {r.component for r in comp.collect()}
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert reps <= kept_ids


def test_pagerank_star_graph_and_mass_conservation(spark):
    """Power iteration semantics: on a star graph the hub dominates, the
    spokes are symmetric, and total mass stays 1 (no dangling nodes in an
    undirected graph)."""
    from futures_eos_cdc_spark.operators.clustering import pagerank

    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], "doc_a long, doc_b long"
    )
    rows = {r.doc_id: r for r in pagerank(star, iters=5).collect()}
    assert rows[1].deg == 4 and all(rows[s].deg == 1 for s in (2, 3, 4, 5))
    assert rows[1].pr > rows[2].pr
    assert len({rows[s].pr for s in (2, 3, 4, 5)}) == 1  # spokes symmetric
    assert abs(sum(r.pr for r in rows.values()) - 1.0) < 1e-4


def test_pagerank_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir switches the edge table and every checkpoint_every-th
    round (plus the last) to reliable df.checkpoint() — same contract as
    connected_components. Values must be BIT-IDENTICAL to the local default
    (the iteration is deterministic by construction), and checkpoint files
    must land in the directory."""
    from futures_eos_cdc_spark.operators.clustering import pagerank

    random.seed(31)
    edges = sorted({(min(a, b), max(a, b))
                    for a, b in (tuple(random.sample(range(60), 2)) for _ in range(150))})
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    ckpt = str(tmp_path / "pr_ckpt")
    local = sorted(map(tuple, pagerank(df, iters=4).collect()))
    reliable = sorted(map(tuple, pagerank(
        df, iters=4, checkpoint_dir=ckpt, checkpoint_every=2
    ).collect()))
    assert reliable == local
    import os

    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "reliable checkpoint wrote no files"


def test_split_uri_authority_comparison():
    """Code-review r9: the authority is a comparison COMPONENT, not
    noise — the same path on a different cluster must not compare
    equal, while a plain caller path still matches any authority."""
    from futures_eos_cdc_spark.operators.clustering import _split_uri

    assert _split_uri("/ckpt") == ("", "", "/ckpt")
    assert _split_uri("file:/ckpt") == ("file", "", "/ckpt")
    assert _split_uri("hdfs://nnA:8020/ckpt") == ("hdfs", "nnA:8020", "/ckpt")
    assert _split_uri("hdfs://nnA:8020") == ("hdfs", "nnA:8020", "/")
    assert _split_uri("s3a://bucket/a/b") == ("s3a", "bucket", "/a/b")
    s1, a1, p1 = _split_uri("hdfs://nnA:8020/ckpt")
    s2, a2, p2 = _split_uri("hdfs://nnB:8020/ckpt")
    assert p1 == p2 and a1 != a2 and s1 == s2  # same path, DIFFERENT cluster
    # ADVICE r9: the SCHEME alone distinguishes filesystems too —
    # file:/ckpt (explicit scheme, no authority) vs hdfs://nn:8020/ckpt
    fs, fa, fp = _split_uri("file:/ckpt")
    hs, ha, hp = _split_uri("hdfs://nn:8020/ckpt")
    assert fp == hp and fs != hs  # paths equal; schemes must decide
    # ADVICE r8: the path component drops the //host:port authority too,
    # or a caller's plain path never matches the qualified live checkpoint
    # dir and every call re-runs setCheckpointDir (UUID-subdir churn)
    assert _split_uri("file:///ckpt")[2] == "/ckpt"
    assert _split_uri("hdfs://nn:8020")[2] == "/"
    # relative paths and colon-bearing TAILS are untouched
    assert _split_uri("rel/dir")[2] == "rel/dir"
    assert _split_uri("/dir/with:colon")[2] == "/dir/with:colon"


def test_ensure_checkpoint_dir_resets_on_foreign_authority(spark):
    """An explicit caller authority that differs from the live value's
    must re-run setCheckpointDir even when the path component matches."""
    from futures_eos_cdc_spark.operators.clustering import (
        _ensure_checkpoint_dir,
        _split_uri,
    )

    sc = spark.sparkContext
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        _ensure_checkpoint_dir(sc, d)
        live1 = sc.getCheckpointDir()
        assert live1 and _split_uri(live1)[2].startswith(d)
        # same plain path again: no churn (the ADVICE r8 case)
        _ensure_checkpoint_dir(sc, d)
        assert sc.getCheckpointDir() == live1
        # same PATH, explicit foreign authority: must not be treated as
        # already set (it would silently keep checkpointing locally).
        # setCheckpointDir on an unreachable cluster would error, so
        # assert the decision logic directly: a foreign authority fails
        # the want_auth in ("", live_auth) guard.
        live_auth = _split_uri(live1)[1]
        assert "nnB:8020" != live_auth
        # ADVICE r9 (scheme half): an explicit caller scheme must match
        # the live scheme under the same empty-is-wildcard rule. The
        # local session qualifies the live dir as file:, so a caller
        # naming hdfs:/ must fail the want_scheme in ("", live_scheme)
        # guard even with an identical path and no authority.
        live_scheme = _split_uri(live1)[0]
        assert live_scheme == "file"
        foreign_scheme = _split_uri("hdfs:" + d)[0]
        assert foreign_scheme not in ("", live_scheme)
        same_scheme = _split_uri("file:" + d)[0]
        assert same_scheme in ("", live_scheme)
        # and an explicit file: caller over the same path is a no-op
        _ensure_checkpoint_dir(sc, "file:" + d)
        assert sc.getCheckpointDir() == live1
