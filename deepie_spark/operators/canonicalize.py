"""Entity canonicalization: connected components over a similarity graph.

No reference analogue (its entity-linking module is empty) — this is
the north rule's "distributed canonicalization via connected-components
over a salted entity-similarity graph".

Nodes are normalized surface keys (hashed to int64); edges come from
  (a) alias co-membership: two aliases of the same canonical_id,
  (b) exact normalized-surface equality between extracted surfaces and
      aliases (implicit: same node id).
Shared aliases between two entities merge their clusters — exactly the
behavior CC is for.  Every edge is a dictionary edge, so the components
are a property of the dictionary: ``alias_components`` computes them
once, and canonicalizing a crawl is a broadcast join of its surfaces
against that table (``canonicalize_entities``).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SOCC'14 — public), all
DataFrame joins, a lineage cut each round (``localCheckpoint`` by
default; reliable ``checkpoint()`` or resumable parquet round
snapshots on request — see ``connected_components``), convergence =
edge set unchanged (count + xxhash fingerprint).  For star-shaped
alias graphs this converges in 2-3 rounds; the iteration cap guards
pathological chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge normal form: src < dst, deduped, no self loops."""
    e = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    )
    return e.where(F.col("src") != F.col("dst")).distinct()


def row_fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row count, order-independent hash sum over all columns) in one
    aggregation job — a multiset fingerprint of ``df``'s rows."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.pmod(
                F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
                F.lit(2**62),
            ).cast("long"),
            F.lit(0),
        ).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _min_neighbor(directed: DataFrame) -> DataFrame:
    """(src, m = min(dst ∪ {src})) as ONE partial-aggregated min.

    Hub safety without salting: ``min`` is algebraic, so Spark's
    HashAggregate computes per-partition partial minima BEFORE the
    exchange — a hub node with 10^6 edges ships one partial min per
    map partition, never its raw edge list, which is exactly what the
    previous explicit salted two-phase form achieved at the cost of a
    SECOND shuffle per star operation (2 extra exchanges per CC
    round).  Explicit salting remains the right tool for non-algebraic
    aggregations (collect_list and friends); for min it was redundant
    work."""
    return (
        directed.groupBy("src")
        .agg(F.min("dst").alias("_pm"))
        .select("src", F.least(F.col("_pm"), F.col("src")).alias("m"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to m = min(N(u) ∪ {u})."""
    nbrs = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = _min_neighbor(nbrs)
    return (
        nbrs.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each u, connect all neighbors v <= u (and u) to their min."""
    # direct edges so that src >= dst
    d = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = _min_neighbor(d)
    out = (
        d.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(m.select(F.col("src"), F.col("m").alias("dst")))
    )
    return out


def _latest_round(spark, state_dir: str) -> int:
    """Highest round index with a _SUCCESS-complete edge snapshot in
    ``state_dir`` (0 = only the initial canonicalized edges), or -1.

    Local-filesystem listing; on HDFS/S3 swap for the Hadoop
    FileSystem API (the _SUCCESS-marker protocol is identical)."""
    import os

    if not os.path.isdir(state_dir):
        return -1
    best = -1
    for name in os.listdir(state_dir):
        suffix = name.removeprefix("round_")
        if (
            name.startswith("round_")
            and suffix.isdigit()
            and os.path.exists(os.path.join(state_dir, name, "_SUCCESS"))
        ):
            best = max(best, int(suffix))
    return best


def _read_input_fp(state_dir: str) -> tuple[int, int] | None:
    """The input-edge fingerprint recorded when round 0 was written
    (local filesystem, like ``_latest_round``; swap for the Hadoop
    FileSystem API on HDFS/S3)."""
    import json
    import os

    p = os.path.join(state_dir, "_input_fingerprint.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        d = json.load(f)
    return int(d["n"]), int(d["h"])


def _write_input_fp(state_dir: str, fp: tuple[int, int]) -> None:
    import json
    import os

    os.makedirs(state_dir, exist_ok=True)
    tmp = os.path.join(state_dir, "_input_fingerprint.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"n": fp[0], "h": fp[1]}, f)
    os.replace(tmp, os.path.join(state_dir, "_input_fingerprint.json"))


def _clear_rounds(state_dir: str) -> None:
    import os
    import shutil

    if not os.path.isdir(state_dir):
        return
    for name in os.listdir(state_dir):
        if name.startswith("round_"):
            shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)
    try:
        os.remove(os.path.join(state_dir, "_input_fingerprint.json"))
    except FileNotFoundError:
        pass


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    state_dir: str | None = None,
) -> DataFrame:
    """edges(src bigint, dst bigint) -> (node bigint, component bigint)
    where component = min node id of the cluster.

    Lineage/fault-tolerance modes for the per-round cut (each CC round
    builds joins on the previous round's output; without a cut the plan
    deepens geometrically):

    - default: ``localCheckpoint`` — cheapest (executor-local blocks),
      correct for lineage-cutting, but NOT executor-loss-safe: losing a
      cached block on a real cluster fails the job;
    - ``checkpoint_dir``: ``DataFrame.checkpoint()`` to reliable
      storage (HDFS/S3) — executor loss recovers from the checkpoint
      files, the right mode for long CC runs on a 1000-executor
      cluster;
    - ``state_dir``: each round's edge set is written as a parquet
      snapshot (``round_NNNN``, atomic via Spark's _SUCCESS marker) and
      read back — survives full DRIVER loss: a rerun with the same
      ``state_dir`` resumes from the last completed round instead of
      restarting (kill-one-round test in test_canonicalize.py).
      Resume is input-guarded: round 0 records a fingerprint of the
      canonicalized input edges, and a rerun whose edges changed (same
      state_dir, new graph) wipes the snapshots and restarts instead
      of silently resuming the old graph.
      Takes precedence over ``checkpoint_dir``.

    All three modes produce identical components (tested)."""
    spark = edges.sparkSession
    if checkpoint_dir is not None and state_dir is None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def cut(df: DataFrame, rnd: int) -> DataFrame:
        if state_dir is not None:
            path = f"{state_dir}/round_{rnd:04d}"
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    last = _latest_round(spark, state_dir) if state_dir is not None else -1
    if last >= 0:
        # resume keys on the INPUT, not just the directory: a rerun
        # that reuses state_dir after the upstream edge set changed
        # must restart, or it silently resumes round snapshots of the
        # OLD graph and emits components for edges that no longer
        # exist.  Round 0 records row_fingerprint(canonicalized input);
        # a resume recomputes it (one aggregation over the input — the
        # price of not trusting the directory name) and restarts on
        # mismatch or when no fingerprint was recorded.
        stored = _read_input_fp(state_dir)
        if stored is None or stored != row_fingerprint(_canon_edges(edges)):
            _clear_rounds(state_dir)
            last = -1
    if last >= 0:
        e = spark.read.parquet(f"{state_dir}/round_{last:04d}")
        start = last + 1
        prev = row_fingerprint(e)
    else:
        e = cut(_canon_edges(edges), 0)
        start = 1
        # fingerprint of the cut == fingerprint of the canonical input
        # (same rows, order-independent sum), so the fresh path records
        # the input fingerprint with zero extra jobs
        prev = row_fingerprint(e)
        if state_dir is not None:
            _write_input_fp(state_dir, prev)
    for rnd in range(start, start + max_iter):
        e = cut(_canon_edges(_small_star(_large_star(e))), rnd)
        cur = row_fingerprint(e)
        if cur == prev:
            break
        prev = cur
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # edges are kept in canonical (src < dst) form, so at convergence
    # each edge reads (component_root, member)
    comp = e.select(F.col("dst").alias("node"), F.col("src").alias("component"))
    comp = comp.groupBy("node").agg(F.min("component").alias("component"))
    return (
        nodes.join(comp, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )


def node_id(col):
    """Stable int64 node id for a normalized surface key."""
    return F.xxhash64(col)


def alias_edges(alias_dim: DataFrame) -> DataFrame:
    """Edges connecting all normalized aliases of one canonical entity
    (star around the entity's min alias node)."""
    a = alias_dim.select(
        node_id("norm_key").alias("node"), F.col("canonical_id")
    ).distinct()
    hub = a.groupBy("canonical_id").agg(F.min("node").alias("hub"))
    return (
        a.join(hub, "canonical_id")
        .where(F.col("node") != F.col("hub"))
        .select(F.col("node").alias("src"), F.col("hub").alias("dst"))
    )


def alias_components(
    alias_dim: DataFrame, cc_state_dir: str | None = None
) -> DataFrame:
    """The dictionary's clustering and link candidates: (node,
    component, cluster_canonical_id, norm_key, canonical_id,
    entity_type) for every distinct alias node.

    ``alias_dim`` is ``alias_dim_with_key`` output.  The result depends
    only on the alias dictionary (and the tokenizer behind its
    ``norm_key``), never on a crawl — ``KgPipeline`` stores it as a
    versioned lakehouse dimension and rebuilds it only when that input
    changes.  ``cluster_canonical_id`` is the smallest dictionary id in
    the component; ``canonical_id``/``entity_type`` are the node's
    rank-1 link candidate (``link_triples`` joins against them).
    ``cc_state_dir`` routes the CC loop through resumable parquet round
    snapshots (driver-loss-safe; see ``connected_components``); default
    is per-round localCheckpoint."""
    # the edges, the members and the link candidates all read alias_dim:
    # evaluate its norm UDF and rank window once, not three times
    alias_dim = alias_dim.localCheckpoint()
    comp = connected_components(alias_edges(alias_dim), state_dir=cc_state_dir)
    # aliases whose node is its entity's hub and has no other alias
    # carry no edge: they are singleton components
    members = (
        alias_dim.select(node_id("norm_key").alias("node"), "canonical_id")
        .join(comp, "node", "left")
        .withColumn("component", F.coalesce("component", F.col("node")))
    )
    best = members.groupBy("component").agg(
        F.min("canonical_id").alias("cluster_canonical_id")
    )
    links = alias_dim.where(F.col("link_rank") == 1).select(
        node_id("norm_key").alias("node"), "norm_key", "canonical_id",
        "entity_type",
    )
    return (
        members.select("node", "component").distinct()
        .join(best, "component")
        .join(links, "node")
        .select("node", "component", "cluster_canonical_id", "norm_key",
                "canonical_id", "entity_type")
    )


def canonicalize_entities(
    linked_triples: DataFrame,
    alias_dim: DataFrame,
    extractor_bc,
    components: DataFrame | None = None,
) -> DataFrame:
    """Assign a cluster id to every distinct subject/object surface.

    Returns (component, node, norm_key, cluster_canonical_id) —
    cluster_canonical_id is the smallest linked dictionary id in the
    component (null for literal-only clusters).  Surfaces are the
    ``subject_norm``/``object_norm`` keys ``link_triples`` computed, so
    this runs no Python.  A surface joins the dictionary's components
    by node id (a surface that exactly matches an alias shares its
    node), broadcast at dictionary scale; any other surface is its own
    singleton component.  ``components`` is a prebuilt
    ``alias_components(alias_dim)`` (the pipeline reads it from the
    lake); without it the components are built here.  ``extractor_bc``
    is unused: the keys are already in ``linked_triples``."""
    if components is None:
        components = alias_components(alias_dim)
    surfaces = (
        linked_triples.select(F.col("subject_norm").alias("norm_key"))
        .union(linked_triples.select(F.col("object_norm").alias("norm_key")))
        .where(F.col("norm_key").isNotNull())
        .distinct()
    )
    return (
        surfaces.withColumn("node", node_id("norm_key"))
        .join(
            F.broadcast(components.select("node", "component", "cluster_canonical_id")),
            "node", "left",
        )
        .select(
            F.coalesce("component", F.col("node")).alias("component"),
            "node", "norm_key", "cluster_canonical_id",
        )
    )
