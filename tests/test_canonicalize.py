import random

from deepie_spark.operators.canonicalize import (
    alias_components,
    canonicalize_entities,
    connected_components,
    node_id,
)


def _cc_oracle(edges):
    """Union-find oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for s, d in edges:
        union(s, d)
    # min-id representative
    comp = {}
    for n in list(parent):
        comp[n] = find(n)
    # path compress to true min: iterate until stable
    changed = True
    while changed:
        changed = False
        for n in comp:
            if comp[comp[n]] != comp[n]:
                comp[n] = comp[comp[n]]
                changed = True
    return comp


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    want = _cc_oracle(edges)
    # same partition of nodes into clusters, with min-id labels
    assert got == want, (got, want)


def test_cc_two_triangles(spark):
    _check(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12)])


def test_cc_chain(spark):
    _check(spark, [(i, i + 1) for i in range(1, 30)])


def test_cc_star_with_hub(spark):
    _check(spark, [(100, i) for i in range(1, 40)])


def test_cc_self_loops_and_dups(spark):
    _check(spark, [(5, 5), (1, 2), (2, 1), (2, 3)])


def test_cc_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    nodes = list(range(1, 120))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    _check(spark, edges)


def test_cc_three_lineage_modes_identical(spark, tmp_path):
    """localCheckpoint (default), reliable checkpoint(), and parquet
    round snapshots must produce identical components."""
    rng = random.Random(11)
    nodes = list(range(1, 80))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(100)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    want = _cc_oracle(edges)

    local = {r["node"]: r["component"] for r in connected_components(df).collect()}
    reliable = {
        r["node"]: r["component"]
        for r in connected_components(
            df, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    snap = {
        r["node"]: r["component"]
        for r in connected_components(df, state_dir=str(tmp_path / "state")).collect()
    }
    assert local == reliable == snap == want
    # reliable mode really wrote RDD checkpoint files
    import os

    assert any(os.scandir(tmp_path / "ckpt"))


def test_cc_kill_one_round_resume(spark, tmp_path):
    """Driver-loss resume: a run killed after one CC round (simulated
    with max_iter=1 + state_dir) leaves _SUCCESS-complete round
    snapshots; a rerun with the same state_dir resumes from the last
    snapshot — writing only NEW rounds — and converges to the same
    components as an uninterrupted run."""
    import os

    # a long chain needs several large/small-star rounds to converge
    edges = [(i, i + 1) for i in range(1, 40)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    state = str(tmp_path / "cc_state")

    connected_components(df, max_iter=1, state_dir=state).collect()  # "crash"
    rounds_before = sorted(
        d for d in os.listdir(state) if d.startswith("round_")
    )
    assert rounds_before == ["round_0000", "round_0001"]
    mtime_before = os.path.getmtime(os.path.join(state, "round_0001", "_SUCCESS"))

    got = {
        r["node"]: r["component"]
        for r in connected_components(df, state_dir=state).collect()
    }
    rounds_after = sorted(d for d in os.listdir(state) if d.startswith("round_"))
    # resume appended rounds >= 2 instead of rewriting 0/1 from scratch
    assert rounds_after[: len(rounds_before)] == rounds_before
    assert len(rounds_after) > len(rounds_before)
    assert os.path.getmtime(os.path.join(state, "round_0001", "_SUCCESS")) == mtime_before
    assert got == _cc_oracle(edges)


def test_cc_state_dir_rejects_stale_snapshots(spark, tmp_path):
    """Reusing a state_dir after the upstream edge set changed must NOT
    resume the old graph's round snapshots: round 0 records an input
    fingerprint, and a rerun with different edges wipes the stale
    rounds and recomputes components for the NEW graph."""
    import os

    state = str(tmp_path / "cc_state_stale")
    edges_a = [(1, 2), (2, 3), (10, 11)]
    df_a = spark.createDataFrame(edges_a, "src bigint, dst bigint")
    connected_components(df_a, state_dir=state).collect()
    assert os.path.exists(os.path.join(state, "_input_fingerprint.json"))

    # upstream changed: 3 now links to 10, merging the two clusters
    edges_b = [(1, 2), (2, 3), (3, 10), (10, 11)]
    df_b = spark.createDataFrame(edges_b, "src bigint, dst bigint")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df_b, state_dir=state).collect()
    }
    assert got == _cc_oracle(edges_b)  # NOT the stale two-cluster answer
    assert len(set(got.values())) == 1

    # same input again: resumes (round snapshots survive untouched)
    rounds = sorted(d for d in os.listdir(state) if d.startswith("round_"))
    mtimes = {
        d: os.path.getmtime(os.path.join(state, d, "_SUCCESS")) for d in rounds
    }
    got2 = {
        r["node"]: r["component"]
        for r in connected_components(df_b, state_dir=state).collect()
    }
    assert got2 == got
    for d in rounds:
        assert os.path.getmtime(os.path.join(state, d, "_SUCCESS")) == mtimes[d]


def _alias_oracle(rows):
    """(node, canonical_id) alias rows -> {node: (component,
    cluster_canonical_id)}: union-find over nodes sharing an entity,
    component = min node, cluster id = min canonical_id."""
    by_cid = {}
    for node, cid in rows:
        by_cid.setdefault(cid, []).append(node)
    edges = [(n, n) for n, _ in rows]
    for nodes in by_cid.values():
        edges += [(nodes[0], n) for n in nodes[1:]]
    comp = _cc_oracle(edges)
    best = {}
    for node, cid in rows:
        best[comp[node]] = min(cid, best.get(comp[node], cid))
    return {n: (comp[n], best[comp[n]]) for n in comp}


def test_alias_components_match_union_find(spark):
    """The dictionary dimension: every alias node's component and the
    component's smallest canonical_id, with shared keys bridging
    entities and single-alias entities as singletons."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(5)
    rows = [(f"k{rng.randrange(60)}", rng.randrange(25)) for _ in range(80)]
    # alias_dim_with_key's shape: a type and a rank per key
    alias_dim = (
        spark.createDataFrame(rows, "norm_key string, canonical_id bigint")
        .withColumn("entity_type", F.concat(F.lit("T"), F.col("canonical_id")))
        .withColumn("link_rank", F.row_number().over(
            Window.partitionBy("norm_key").orderBy("canonical_id")))
    )
    nodes = [
        (r["node"], r["canonical_id"])
        for r in alias_dim.select(
            node_id("norm_key").alias("node"), "canonical_id"
        ).collect()
    ]
    comps = alias_components(alias_dim).collect()
    got = {r["node"]: (r["component"], r["cluster_canonical_id"]) for r in comps}
    assert len(comps) == len(got)  # one row per node
    assert got == _alias_oracle(nodes)
    # each node's link candidate is its key's rank-1 alias
    links = {(r["norm_key"], r["canonical_id"], r["entity_type"]) for r in comps}
    first = {}
    for k, cid in rows:
        first[k] = min(cid, first.get(k, cid))
    assert links == {(k, cid, f"T{cid}") for k, cid in first.items()}


def test_canonicalize_entities_joins_the_dimension(spark, extractor):
    """Surfaces take their alias node's component; a surface matching
    no alias is its own component with no canonical id."""
    from deepie_spark.operators.linking import alias_dim_with_key, link_keys
    from deepie_spark.sources.synth import corpus_dataframes

    bc = spark.sparkContext.broadcast(extractor)
    _, _, alias_df = corpus_dataframes(spark, 1)
    alias_dim = alias_dim_with_key(alias_df, bc)
    surfaces = [r["alias"] for r in alias_df.limit(5).collect()]
    # canonicalization reads the link keys link_triples adds
    linked = link_keys(spark.createDataFrame(
        [(s, {"@value": "1999"}) for s in surfaces],
        "subject string, object map<string,string>",
    ), bc)
    comps = alias_components(alias_dim)
    out = canonicalize_entities(linked, alias_dim, bc, components=comps)
    assert out.columns == ["component", "node", "norm_key", "cluster_canonical_id"]
    dim = {
        r["node"]: (r["component"], r["cluster_canonical_id"])
        for r in comps.collect()
    }
    rows = out.collect()
    assert len(rows) == len({r["norm_key"] for r in rows})
    literals = [r for r in rows if r["node"] not in dim]
    assert len(literals) == 1 and len(rows) > 1  # only the date
    for r in rows:
        want = dim.get(r["node"], (r["node"], None))
        assert (r["component"], r["cluster_canonical_id"]) == want
    # without a prebuilt dimension the same rows come out
    fresh = canonicalize_entities(linked, alias_dim, bc)
    assert sorted(fresh.collect()) == sorted(rows)
