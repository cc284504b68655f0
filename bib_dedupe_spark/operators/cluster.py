"""Clustering stage: labeled edge list → ``DataFrame[ID, component]``.

Behavioral spec: /root/reference/bib_dedupe/cluster.py:78-120 (recursive
DFS over a driver-local adjacency dict, with a same-search_set expansion
constraint at :56-64): a node whose non-empty search_set is already in
the component being built is rejected — left unvisited — and later
anchors a new component that absorbs its not-yet-visited neighbors.
Components are identified by their minimum member ID.

``cluster()`` takes one of two exact paths, chosen by ONE aggregate job
over the labeled edges that returns both the edge count and whether any
edge carries a non-empty search_set:

- **single task** (edge count ≤ ``SINGLE_TASK_MAX_EDGES`` and ≤
  ``max_conflicted_edges``): every edge goes to one ``applyInPandas``
  group running ``_constrained_split_pdf``, the reference DFS over edges
  in canonical ``(src, dst)``-sorted order. Filtering that sorted list
  to one component keeps the relative order of its nodes' first
  appearances and components never touch, so one DFS over the whole
  graph equals CC followed by per-component DFS — with no CC rounds, no
  conflict detection and no checkpoint files.
- **distributed** (larger graphs): the large-star/small-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond") as an
  iterative DataFrame job, O(log² n) rounds, each a pair of groupBy
  shuffles with per-round ``localCheckpoint`` (or persisted parquet
  checkpoints for resumability) to truncate lineage. When the gate saw a
  search_set, the components holding two members of one set (rare:
  direct same-set pairs were pruned at blocking, block.py:127-149) are
  re-split by the same DFS, each as one ``applyInPandas`` group.

Parity claim: output is identical to the reference when the reference
receives its matched pairs sorted by (ID_1, ID_2); for other row orders
the reference itself is input-order-dependent (dict/DFS insertion
order). Self-loop rows (ID_1 == ID_2) are dropped on both paths.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bib_dedupe_spark import constants as C


def _symmetrize(edges: DataFrame) -> DataFrame:
    fwd = edges.select(F.col("src"), F.col("dst"))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every larger neighbor of u to u's minimum neighborhood node.

    Join-based (no collect_set): hub nodes with huge neighborhoods stream
    through the join instead of materializing one giant array per node.
    The join/aggregation shapes are left for AQE to pick the physical
    strategy: at small per-iteration sizes it broadcasts ``mins`` (no
    exchange on the edge side at all); pinning a shared partitioning
    statically was measured SLOWER here (1.33 → 1.76 s on the headline
    CC query) because it forces the shuffle that AQE's broadcast avoids.
    """
    nbrs = _symmetrize(edges)
    mins = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's smaller-neighbor star, link all to the minimum."""
    oriented = _symmetrize(edges).filter(F.col("dst") < F.col("src"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    relink = (
        oriented.join(mins, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_link = mins.select("src", F.col("m").alias("dst"))
    return relink.unionByName(self_link).distinct()


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Edge list (src, dst) → DataFrame[ID, component] (min-id labeling).

    ``checkpoint_dir`` switches per-iteration lineage truncation from
    localCheckpoint to resumable parquet checkpoints (see lineage.py).
    """
    spark = edges.sparkSession
    current = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    current = current.localCheckpoint()

    for iteration in range(max_iterations):
        # converged when large-star adds nothing new: after a small-star
        # pass the graph is an out-degree≤1 forest, where this implies the
        # star fixpoint (any chain still produces a new shortcut edge).
        # The novelty flag is computed INSIDE the same job that
        # materializes the checkpoint (left join against the previous
        # edge set), so the convergence check is a scan of the
        # checkpointed partitions instead of a second join pass over
        # grown per iteration.
        if iteration > 0:
            flagged = (
                _large_star(current)
                .join(
                    current.withColumn("_old", F.lit(1)),
                    ["src", "dst"],
                    "left",
                )
                .localCheckpoint()
            )
            changed = (
                flagged.filter(F.col("_old").isNull()).limit(1).count()
            )
            if changed == 0:
                break
            grown = flagged.drop("_old")
        else:
            # iteration 0: grown has exactly ONE consumer (the small-star
            # below) and no convergence check reads it — skip the
            # checkpoint job; the small-star checkpoint materializes the
            # two-star chain in one pass with lineage depth 2
            grown = _large_star(current)
        current = _small_star(grown)
        if checkpoint_dir is not None:
            path = f"{checkpoint_dir}/cc_iter_{iteration}"
            current.write.mode("overwrite").parquet(path)
            current = spark.read.parquet(path)
        else:
            current = current.localCheckpoint()

    membership = _symmetrize(current).groupBy("src").agg(
        F.min("dst").alias("root")
    )
    return membership.select(
        F.col("src").alias(C.ID),
        F.least(F.col("src"), F.col("root")).alias(C.COMPONENT),
    )


# one conflicted component is resolved inside one task; a component this
# large means the matching rules glued a giant blob together (data-quality
# failure) — fail loudly instead of grinding one executor for hours
MAX_CONFLICTED_COMPONENT_EDGES = 5_000_000

# graphs with at most this many edges skip distributed CC and run the DFS
# over ALL edges in one task (see module docstring). Measured with
# scripts/cluster_crossover.py (local[2], 2 GB driver heap, duplicate-
# cluster graphs without search sets, 3 interleaved repeats in fresh
# JVMs, load 2.2-2.7, kernel gauge 33-52 ms), median cluster() wall:
#
#     edges       single task    distributed CC (jobs)
#     10,000        1.2 s          6.0 s (33)
#     100,000       2.6 s         12.5 s (36)
#     300,000       6.0 s         21.4 s (35)
#     1,000,000    15.1 s         40.4 s (31)
#
# The single task won every pair; the crossover lies above 1M edges. The
# bound stays at the largest size measured, so one task never holds a
# graph larger than one shown to win.
SINGLE_TASK_MAX_EDGES = 1_000_000


def _constrained_split_pdf(
    pdf: pd.DataFrame, max_edges: int = MAX_CONFLICTED_COMPONENT_EDGES
) -> pd.DataFrame:
    """Reference-faithful constrained DFS over one edge set: a whole small
    graph, or one conflicted component of a large one.

    Re-implements /root/reference/bib_dedupe/cluster.py:13-64 semantics
    (recursive pre-order DFS; a node whose non-empty search_set is already
    in the component is rejected — left unvisited — and later anchors a
    fresh component) as an explicit stack, over edges in canonical
    (src, dst)-sorted order. Components are labeled by min member ID.
    """
    if len(pdf) > max_edges:
        raise ValueError(
            f"conflicted component with {len(pdf)} edges exceeds "
            f"MAX_CONFLICTED_COMPONENT_EDGES={max_edges}; "
            "a same-search_set conflict inside a component this size means "
            "the match rules over-merged — inspect it with "
            "debug.component_summaries / blocking_key_stats before raising "
            "the limit"
        )
    pdf = pdf.sort_values(["src", "dst"], kind="mergesort")
    adj: dict[str, list[str]] = {}
    eset: dict[str, str] = {}
    for src, dst, s1, s2 in zip(
        pdf["src"], pdf["dst"], pdf["sset_src"], pdf["sset_dst"]
    ):
        # adjacency in edge order, both directions (cluster.py:24-32)
        adj.setdefault(src, []).append(dst)
        adj.setdefault(dst, []).append(src)
        # last row wins, as in the reference's iterrows map (:104-106);
        # None/NaN normalized to "" (unconstrained, like falsy sets :62)
        eset[src] = s1 if isinstance(s1, str) else ""
        eset[dst] = s2 if isinstance(s2, str) else ""

    visited: set[str] = set()
    out_ids: list[str] = []
    out_comp: list[str] = []
    for start in adj:  # insertion order = first appearance in edge order
        if start in visited:
            continue
        component: list[str] = []
        comp_sets: set[str] = set()
        stack = [start]
        while stack:
            node = stack.pop()
            if node in visited:
                continue
            node_set = eset[node]
            if node_set and node_set in comp_sets:
                continue  # rejected, stays unvisited (cluster.py:58-59)
            visited.add(node)
            component.append(node)
            if node_set:
                comp_sets.add(node_set)
            # reversed push = recursive pre-order neighbor traversal
            for nb in reversed(adj[node]):
                if nb not in visited:
                    stack.append(nb)
        comp_id = min(component)
        out_ids.extend(component)
        out_comp.extend([comp_id] * len(component))
    return pd.DataFrame({C.ID: out_ids, C.COMPONENT: out_comp})


def cluster(
    matched_df: DataFrame,
    label: str = C.DUPLICATE,
    enforce_search_sets: bool = True,
    checkpoint_dir: str | None = None,
    max_conflicted_edges: int = MAX_CONFLICTED_COMPONENT_EDGES,
    single_task_max_edges: int = SINGLE_TASK_MAX_EDGES,
) -> DataFrame:
    """Labeled edge list → DataFrame[ID, component].

    Only edges carrying ``label`` participate (cluster.py:98). Components
    are identified by their minimum member ID. The same-search_set
    constraint follows the reference DFS exactly (see module docstring).
    Graphs of at most ``min(single_task_max_edges, max_conflicted_edges)``
    edges run the DFS in one task; larger ones run distributed CC plus
    DFS resolution of the (rare) conflicted components only.
    ``single_task_max_edges=0`` forces the distributed path.
    """
    if enforce_search_sets:
        sset_1 = F.coalesce(F.col("search_set_1"), F.lit(""))
        sset_2 = F.coalesce(F.col("search_set_2"), F.lit(""))
    else:  # no set on any node: the constraint cannot bind
        sset_1 = sset_2 = F.lit("")
    edges_full = (
        matched_df.filter(F.col(C.DUPLICATE_LABEL) == label)
        .filter(F.col("ID_1") != F.col("ID_2"))
        .select(
            F.col("ID_1").alias("src"),
            F.col("ID_2").alias("dst"),
            sset_1.alias("sset_src"),
            sset_2.alias("sset_dst"),
        )
    )

    # the one path-choosing action: graph size, and whether any search_set
    # is present for the constraint to bind on
    gate = edges_full.agg(
        F.count(F.lit(1)).alias("n"),
        F.max((F.col("sset_src") != "") | (F.col("sset_dst") != "")).alias(
            "any_set"
        ),
    ).first()

    if gate["n"] <= min(single_task_max_edges, max_conflicted_edges):
        # one group holding every edge; the key is a string because an
        # integer literal in groupBy is read as a column ordinal
        return edges_full.groupBy(F.lit("all")).applyInPandas(
            lambda pdf: _constrained_split_pdf(pdf, max_conflicted_edges),
            schema=f"{C.ID} string, {C.COMPONENT} string",
        )

    components = connected_components(
        edges_full.select("src", "dst"), checkpoint_dir=checkpoint_dir
    )
    if not gate["any_set"]:
        return components

    # per-node search_set from the edge endpoints (cluster.py:102-106)
    sets_df = (
        edges_full.select(F.col("src").alias(C.ID), F.col("sset_src").alias("sset"))
        .unionByName(
            edges_full.select(
                F.col("dst").alias(C.ID), F.col("sset_dst").alias("sset")
            )
        )
        .groupBy(C.ID)
        .agg(F.max("sset").alias("sset"))
    )

    labeled = components.join(sets_df, C.ID, "left").fillna({"sset": ""})
    # components where the constraint actually binds: >1 member of one set
    conflicted = (
        labeled.filter(F.col("sset") != "")
        .groupBy(C.COMPONENT, "sset")
        .count()
        .filter(F.col("count") > 1)
        .select(C.COMPONENT)
        .distinct()
        .persist()
    )

    # the common case is NO conflict at all (direct same-set pairs were
    # pruned at blocking): skip the anti-join + DFS plan entirely then
    if conflicted.limit(1).count() == 0:
        conflicted.unpersist()
        return components

    # fast path: untouched components pass through with no extra shuffle
    clean = components.join(
        F.broadcast(conflicted), C.COMPONENT, "left_anti"
    ).select(C.ID, C.COMPONENT)

    # conflicted components: ship each component's edges to one pandas
    # group and run the reference DFS (conflicts are rare by construction
    # — direct same-set pairs were pruned at blocking — so this arm sees
    # a tiny fraction of the graph; a pathologically giant conflicted
    # component is a data-quality signal either way)
    comp_of_src = components.select(
        F.col(C.ID).alias("src"), F.col(C.COMPONENT).alias("_comp")
    )
    conflicted_edges = edges_full.join(comp_of_src, "src").join(
        F.broadcast(conflicted.withColumnRenamed(C.COMPONENT, "_comp")),
        "_comp",
        "semi",
    )
    resolved = conflicted_edges.groupBy("_comp").applyInPandas(
        lambda pdf: _constrained_split_pdf(pdf, max_conflicted_edges),
        schema=f"{C.ID} string, {C.COMPONENT} string",
    )
    return clean.unionByName(resolved)
