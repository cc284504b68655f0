"""Clustering stage: labeled edge list → ``DataFrame[ID, component]``.

Behavioral spec: /root/reference/bib_dedupe/cluster.py:78-120 (recursive
DFS over a driver-local adjacency dict, with a same-search_set expansion
constraint at :56-64): a node whose non-empty search_set is already in
the component being built is rejected — left unvisited — and later
anchors a new component that absorbs its not-yet-visited neighbors.
Components are identified by their minimum member ID.

Every caller (``cluster()``, the harness CC queries, the maybe-case
export) goes through ``connected_components``'s size gate: ONE aggregate
job over the edges returns the edge count and whether any edge carries a
non-empty search_set, and picks one of two exact paths:

- **single task** (edge count ≤ ``single_task_max_edges``): every edge
  goes to one ``applyInPandas`` group running ``_constrained_split_pdf``,
  the reference DFS over edges in canonical ``(src, dst)``-sorted order
  (plain CC when no set is given). Filtering that sorted list to one
  component keeps the relative order of its nodes' first appearances and
  components never touch, so one DFS over the whole graph equals CC
  followed by per-component DFS — with no CC rounds, no conflict
  detection and no checkpoint files.
- **distributed** (larger graphs): the large-star/small-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond") as an
  iterative DataFrame job, O(log² n) rounds, each a pair of groupBy
  shuffles with per-round ``localCheckpoint`` (or persisted parquet
  checkpoints for resumability) to truncate lineage. When the gate saw a
  search_set, ``cluster()`` re-splits the components holding two members
  of one set (rare: direct same-set pairs were pruned at blocking,
  block.py:127-149) by the same DFS, each as one ``applyInPandas`` group.

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


def _star_components(
    edges: DataFrame, max_iterations: int, checkpoint_dir: str | None
) -> DataFrame:
    """Distributed CC over loop-free (src, dst) edges; see module docstring."""
    current = edges.select("src", "dst").localCheckpoint()

    for iteration in range(max_iterations):
        # converged when large-star adds nothing new: after a small-star
        # pass the graph is an out-degree≤1 forest, where this implies the
        # star fixpoint. The novelty flag (left join against the previous
        # edges) is computed in the job that materializes the checkpoint,
        # so the convergence check only scans the checkpointed partitions.
        if iteration > 0:
            flagged = _large_star(current).join(
                current.withColumn("_old", F.lit(1)), ["src", "dst"], "left"
            ).localCheckpoint()
            if flagged.filter(F.col("_old").isNull()).limit(1).count() == 0:
                break
            grown = flagged.drop("_old")
        else:
            # iteration 0: grown's one consumer is the small-star below,
            # whose checkpoint materializes both stars in one job
            grown = _large_star(current)
        current = _small_star(grown)
        if checkpoint_dir is not None:
            path = f"{checkpoint_dir}/cc_iter_{iteration}"
            current.write.mode("overwrite").parquet(path)
            current = edges.sparkSession.read.schema(current.schema).parquet(
                path
            )
        else:
            current = current.localCheckpoint()

    root = _symmetrize(current).groupBy("src").agg(F.min("dst").alias("root"))
    return root.select(
        F.col("src").alias(C.ID), F.least("src", "root").alias(C.COMPONENT)
    )


# one conflicted component is resolved inside one task; a component this
# large means the matching rules glued a giant blob together (data-quality
# failure) — fail loudly instead of grinding one executor for hours
MAX_CONFLICTED_COMPONENT_EDGES = 5_000_000

# graphs with at most this many edges skip distributed CC and run the DFS
# over ALL edges in one task (see module docstring). In
# scripts/cluster_crossover.py the single task won every size measured,
# 10k to 1M edges (table and conditions: IMPLEMENTATION.md §2.10); the
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
    adj: dict = {}
    eset: dict = {}
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

    visited: set = set()
    out_ids: list = []
    out_comp: list = []
    for start in adj:  # insertion order = first appearance in edge order
        if start in visited:
            continue
        component: list = []
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


def _gated_components(
    edges: DataFrame,
    max_edges: int,
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, bool]:
    """The size gate over loop-free (src, dst, sset_src, sset_dst) edges →
    (components, True when distributed CC ran on a graph with search sets,
    which it ignores; the single task honours them)."""
    has_set = (F.col("sset_src") != "") | (F.col("sset_dst") != "")
    n, any_set = edges.agg(F.count(F.lit(1)), F.max(has_set)).first()
    if n > max_edges:
        cc = _star_components(edges, max_iterations, checkpoint_dir)
        return cc, bool(any_set)
    # one group holding every edge (a string key: an integer literal in
    # groupBy reads as a column ordinal), output in the input's ID type —
    # int64 IDs labeled as strings would take "10" < "9" minima
    id_type = edges.schema["src"].dataType.simpleString()
    single = edges.groupBy(F.lit("all")).applyInPandas(
        lambda pdf: _constrained_split_pdf(pdf, max_edges),
        schema=f"{C.ID} {id_type}, {C.COMPONENT} {id_type}",
    )
    return single, False


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
    single_task_max_edges: int = SINGLE_TASK_MAX_EDGES,
) -> DataFrame:
    """Edge list (src, dst) → DataFrame[ID, component] (min-id labeling),
    IDs of the ``src`` column's type; self-loops are dropped.

    One aggregate job sizes the graph: at most ``single_task_max_edges``
    edges run the DFS in one task, larger graphs the distributed CC
    (``single_task_max_edges=0`` forces it). ``checkpoint_dir`` switches
    the distributed per-iteration lineage truncation from localCheckpoint
    to resumable parquet checkpoints (see lineage.py).
    """
    no_set = F.lit("").alias
    edges = edges.filter(F.col("src") != F.col("dst")).select(
        "src", "dst", no_set("sset_src"), no_set("sset_dst")
    )
    return _gated_components(
        edges, single_task_max_edges, max_iterations, checkpoint_dir
    )[0]


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
    The size gate is ``connected_components``'s (its single task capped at
    ``max_conflicted_edges``); this adds the search-set re-split only.
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
    components, unresolved = _gated_components(
        edges_full,
        min(single_task_max_edges, max_conflicted_edges),
        checkpoint_dir=checkpoint_dir,
    )
    if not unresolved:
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

    # components where the constraint actually binds: >1 member of one set
    conflicted = (
        components.join(sets_df, C.ID)
        .filter(F.col("sset") != "")
        .groupBy(C.COMPONENT, "sset")
        .count()
        .filter(F.col("count") > 1)
        .select(C.COMPONENT)
        .distinct()
        .persist()
    )

    # the common case is NO conflict at all (direct same-set pairs were
    # pruned at blocking): skip the anti-join + DFS plan entirely then.
    # Planning that arm unconditionally instead of this job was measured
    # slower (2 more AQE jobs and +10% wall on a 50k-edge set graph).
    if conflicted.limit(1).count() == 0:
        conflicted.unpersist()
        return components
    # the result is lazy, so the cache cannot outlive this call: the
    # (rare) conflicted ids come back from it as a small local table
    conflicted_ids = conflicted.collect()
    conflicted.unpersist()
    conflicted = matched_df.sparkSession.createDataFrame(
        conflicted_ids, schema=conflicted.schema
    )

    # fast path: untouched components pass through with no extra shuffle
    clean = components.join(
        F.broadcast(conflicted), C.COMPONENT, "left_anti"
    ).select(C.ID, C.COMPONENT)

    # conflicted components: each one's edges go to one pandas group for
    # the reference DFS (conflicts are rare, so this arm sees a tiny
    # fraction of the graph; a giant one is a data-quality signal)
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
